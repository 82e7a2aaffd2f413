"""Driver-contract query registry: every SURVEY.md §2 operator family gets a
(spark_fn, duckdb_oracle_sql) pair over the driver's testdata tables.

Conventions for engine parity (driver compares row count + schema +
order-insensitive value hash, columns sorted by name):
* every computed column aliased identically in both dialects;
* money aggregates via exact DECIMAL casts, final cast to double + round;
* floats rounded to 6dp (4dp for large sums);
* timestamps emitted as epoch seconds (BIGINT) — session TZ is UTC;
* never emit array columns.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blink_reloaded_spark.functions import embedding as emb
from blink_reloaded_spark.functions import text as tx
from blink_reloaded_spark.functions.hashing import (
    band_keys_from_sig_array,
    exact_text_key,
    minhash_sigs_np_udf,
    poly_hash,
    sig_agreement_flat,
    simhash_exploded,
)
from blink_reloaded_spark.functions.similarity import (
    jaro_winkler_udf,
    levenshtein_sim,
)
from blink_reloaded_spark.operators.clustering import connected_components
from blink_reloaded_spark.operators.ids import stable_row_ids
from blink_reloaded_spark import oracle as osql

# --------------------------------------------------------------------------
# shared constants (both dialects derive from these)
# --------------------------------------------------------------------------

ER_DICT = ["a", "agg", "part", "spark", "sort", "scan"]  # mention dictionary
ER_MAX_DOC = 80  # er queries run on doc_id < ER_MAX_DOC (bounded pair count)
ER_THRESHOLD = 0.79  # accepts same-word pairs (1.0) + ('a','agg') (0.8)
DEDUP_TAU = 0.8  # 5-gram jaccard near-dup threshold (corpus: dups >=0.93)
DEDUP_BANDS, DEDUP_ROWS = 6, 3  # P(miss j=0.93) = (1-j^3)^6 ~ 6e-5; background pass-rate 6*j^3 ~ 9% at j=0.25
ANN_K = 5
ANN_NQUERY = 30
EMB_DIM = 64  # the driver's embeddings.parquet dimension
HP_NPLANES, HP_SEED = 8, 42  # the single hyperplane table of ann02/03/04/06
HP_PLANES = emb._hyperplanes(HP_NPLANES, EMB_DIM, HP_SEED)  # oracle SQL side
# Spark side, same planes. Deterministic, but marked nondeterministic so
# Catalyst cannot push the bucket joins' inferred `isnotnull(bucket)` filter
# below the projection, which would run the kernel twice per scan (once for
# the filter, once for the column).
HP_BUCKETS = emb.hyperplane_buckets_udf(
    HP_NPLANES, EMB_DIM, (HP_SEED,)
).asNondeterministic()


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dec(c, prec="decimal(30,10)"):
    return F.col(c).cast(prec) if isinstance(c, str) else c.cast(prec)


def _spread(df: DataFrame, *key: str) -> DataFrame:
    """Hash-repartition a scan to session parallelism ONLY when it arrives
    with fewer splits than cores (r8, guide §2.5/§6): the driver's testdata
    parquet files are single-row-group, so every scan is one task and any
    heavy map-side work above it (q01's decimal partial aggregation most of
    all) runs serially. At production scale inputs carry many splits and
    this is a no-op — no exchange is added. Hash keys (not round-robin)
    avoid the sort-before-repartition pass; callers pass a high-cardinality
    column so the hash spreads evenly."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *[F.col(k) for k in key])


# --------------------------------------------------------------------------
# relational core (SURVEY.md §2.2-2.7)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """A1/A4-style grouped aggregation (TPC-H Q1 shape): exact decimal sums.
    Reference analogue: per-dataset metric rollups (evaluator.py:16-91)."""
    # spread the single-split scan before the decimal partial aggregation
    # (the heaviest per-row map work in the relational suite) — see _spread
    li = _spread(
        T(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        ),
        "l_orderkey",
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
        F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_base"),
        F.round(
            F.sum(
                _dec("l_extendedprice") * (F.lit(1).cast("decimal(30,10)") - _dec("l_discount"))
            ).cast("double"),
            2,
        ).alias("sum_disc_price"),
        F.count("*").alias("n_rows"),
    )


SQL_Q01 = """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_base,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10)) *
              (CAST(1 AS DECIMAL(30,10)) - CAST(l_discount AS DECIMAL(30,10)))) AS DOUBLE), 2)
    AS sum_disc_price,
  count(*) AS n_rows
FROM lineitem GROUP BY 1, 2
"""


def q02_dim_join_rollup(spark, sf_dir):
    """J1 broadcast dimension joins + agg (title->id dict lookups,
    main_dense.py:121-144)."""
    c = T(spark, sf_dir, "customer")
    n = F.broadcast(T(spark, sf_dir, "nation"))
    r = F.broadcast(T(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum(_dec("c_acctbal")).cast("double"), 2).alias("sum_bal"),
        )
    )


SQL_Q02 = """
SELECT r_name, n_name, count(*) AS n_cust,
  round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q03_topk_per_group(spark, sf_dir):
    """W1 top-k per group + J2 enrichment join (top-k candidates then
    id->title join, crossencoder/data_process.py:56-74)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 400000)
    p = T(spark, sf_dir, "part")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), "l_linenumber"
    )
    top = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )
    return top.join(p, top.l_partkey == p.p_partkey).select(
        "l_orderkey", F.col("rank").cast("long").alias("rank"), "p_name", "l_extendedprice"
    )


SQL_Q03 = """
WITH top AS (
  SELECT l_orderkey, l_partkey, l_extendedprice,
    row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_extendedprice DESC, l_linenumber) AS rank
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_totalprice >= 400000
)
SELECT l_orderkey, CAST(rank AS BIGINT) AS rank, p_name, l_extendedprice
FROM top JOIN part ON l_partkey = p_partkey
WHERE rank <= 3
"""


def q04_anti_join(spark, sf_dir):
    """J10 left_anti (missing_pages counting, main_dense.py:160-170)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_Q04 = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q05_semi_join(spark, sf_dir):
    """P4 left_semi label-presence filter (main_dense.py:183-198)."""
    s = T(spark, sf_dir, "supplier")
    rich = T(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    return s.join(
        rich, s.s_nationkey == rich.c_nationkey, "left_semi"
    ).select("s_suppkey", "s_name")


SQL_Q05 = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 9000)
"""


def q06_fallback_join(spark, sf_dir):
    """J3 two-key fallback join (wikipedia<->wikidata: join on title, misses
    retry on id, link_wikipedia_and_wikidata.py:76-102). Synthetic dirty key:
    every 10th customer's nationkey is 'missing' and resolves via the
    fallback key (c_nationkey % 5)."""
    c = T(spark, sf_dir, "customer").withColumn(
        "k_primary",
        F.when(F.col("c_custkey") % 10 != 0, F.col("c_nationkey")),
    )
    n = F.broadcast(T(spark, sf_dir, "nation"))
    hit = c.where(F.col("k_primary").isNotNull()).join(
        n, F.col("k_primary") == n.n_nationkey
    )
    miss = c.where(F.col("k_primary").isNull()).join(
        n, F.col("c_nationkey") % 5 == n.n_nationkey
    )
    return hit.select("c_custkey", "n_name").unionByName(
        miss.select("c_custkey", "n_name")
    )


SQL_Q06 = """
SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey % 10 != 0
UNION ALL
SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey % 5 = n_nationkey
WHERE c_custkey % 10 = 0
"""


def q07_conditional_agg(spark, sf_dir):
    """A4 bucketed conditional aggregation (Stats r@k, zeshel_utils.py:70-99)."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.sum((F.col("l_quantity") <= q).cast("long"))
                / F.count("*").cast("double"),
                6,
            ).alias(f"share_le_{q}")
            for q in (10, 25, 50)
        ],
        F.count("*").alias("n"),
    )


SQL_Q07 = """
SELECT l_returnflag,
  round(sum(CASE WHEN l_quantity <= 10 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS share_le_10,
  round(sum(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS share_le_25,
  round(sum(CASE WHEN l_quantity <= 50 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS share_le_50,
  count(*) AS n
FROM lineitem GROUP BY 1
"""


def q08_cumulative_window(spark, sf_dir):
    """W5 cumulative window (recall curve cumsum, evaluator.py:109-115)."""
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("cum_value"),
    )


SQL_Q08 = """
SELECT event_id, user_id,
  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value
FROM events
"""


def q09_stable_ids(spark, sf_dir):
    """W6 stable positional ids (local_idx assignment, main_dense.py:125-144).

    Two-phase assignment (operators/ids.py): range partition + per-partition
    row_number + broadcast cumulative offsets — identical output to the
    global-sort row_number with no Exchange SinglePartition in the plan
    (asserted in tests/test_plans.py)."""
    e = T(spark, sf_dir, "events")
    ids = stable_row_ids(e, ["user_id", "ts", "event_id"], id_name="rid")
    return ids.select("event_id", "rid")


SQL_Q09 = """
SELECT event_id,
  CAST(row_number() OVER (ORDER BY user_id, ts, event_id) - 1 AS BIGINT) AS rid
FROM events
"""


def q10_sort_limit(spark, sf_dir):
    """Global sort + limit (benchmark run sorting, utils.py:297)."""
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


SQL_Q10 = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q11_setops(spark, sf_dir):
    """§2.7 set operations: union / except (titles_to_delete removal,
    data_ingestion.py:150-151)."""
    c = T(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    d = c.where(F.col("c_nationkey") < 5).select("c_custkey")
    return a.union(b).distinct().exceptAll(d.distinct())


SQL_Q11 = """
SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
EXCEPT
SELECT c_custkey FROM customer WHERE c_nationkey < 5
"""


def q12_regex_extract(spark, sf_dir):
    """F7 regex extraction + cast (curid munging, main_dense.py:131-136)."""
    e = T(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count("*").alias("n")
    )


SQL_Q12 = """
SELECT event_type,
  CAST(sum(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
  count(*) AS n
FROM events GROUP BY 1
"""


def q13_normalize_keys(spark, sf_dir):
    """F10 key normalization (strip/replace/capitalize second-chance keys,
    enrich_data.py:121-131)."""
    n = T(spark, sf_dir, "nation")
    norm = F.concat(
        F.upper(F.substring(F.trim(F.lower(F.col("n_name"))), 1, 1)),
        F.expr("substring(trim(lower(n_name)), 2)"),
    )
    return n.select(
        "n_nationkey",
        norm.alias("norm_name"),
        F.regexp_replace(F.lower("n_name"), " ", "_").alias("slug"),
    )


SQL_Q13 = """
SELECT n_nationkey,
  upper(substr(trim(lower(n_name)), 1, 1)) || substr(trim(lower(n_name)), 2) AS norm_name,
  regexp_replace(lower(n_name), ' ', '_', 'g') AS slug
FROM nation
"""


def q14_grouping_rollup(spark, sf_dir):
    """A2 one-dim rollup: per-group + overall (per-dataset recall then
    overall, evaluator.py:16-91)."""
    o = T(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("sum_price"),
    )
    tot = o.agg(
        F.lit("ALL").alias("o_orderpriority"),
        F.count("*").alias("n"),
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("sum_price"),
    )
    return per.unionByName(tot)


SQL_Q14 = """
SELECT o_orderpriority, count(*) AS n,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_price
FROM orders GROUP BY 1
UNION ALL
SELECT 'ALL', count(*),
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 2)
FROM orders
"""


# --------------------------------------------------------------------------
# text analysis (training-data pipeline ops)
# --------------------------------------------------------------------------


def text01_quality(spark, sf_dir):
    """Document quality scoring: lengths, punct/stopword ratios. The
    normalized string and token array are projected ONCE (own parallelism
    on the 1-split scan), then every feature column reads the shared
    columns instead of re-running the normalize/tokenize subtree."""
    par = spark.sparkContext.defaultParallelism
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # hash keys, not round-robin (r8): round-robin pays a local
        # sort-before-repartition pass; doc_id hashes evenly
        .repartition(par, F.col("doc_id"))
        .withColumn("nt", tx.normalize_text(F.col("text")))
        .withColumn("tk", tx.tokens(F.col("nt"), normalize=False))
    )
    cols = tx.quality_score_cols(None, s=F.col("nt"), toks=F.col("tk"))
    return d.select("doc_id", *[v.alias(k) for k, v in cols.items()])


def _sql_text01():
    cols = osql.sql_quality_cols("text")
    sel = ",\n  ".join(f"{v} AS {k}" for k, v in cols.items())
    return f"SELECT doc_id,\n  {sel}\nFROM documents"


def text02_langid(spark, sf_dir):
    """Language-ID heuristic vs the stored lang column (token array
    projected once; see lang_id_col docstring)."""
    par = spark.sparkContext.defaultParallelism
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .repartition(par)
        .withColumn("tk", tx.tokens(F.col("text")))
    )
    return d.select(
        "doc_id", "lang", tx.lang_id_col(None, toks=F.col("tk")).alias("lang_pred")
    )


def _sql_text02():
    return f"SELECT doc_id, lang, {osql.sql_lang_id('text')} AS lang_pred FROM documents"


def text03_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", tx.rolling_fingerprint(F.col("text")).alias("fp"))


def _sql_text03():
    return f"SELECT doc_id, {osql.sql_rolling_fingerprint('text')} AS fp FROM documents"


def text04_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish token counting."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.word_count(F.col("text")).alias("n_words"),
        tx.bpe_ish_token_count(F.col("text")).alias("n_bpe"),
    )


def _sql_text04():
    return (
        f"SELECT doc_id, {osql.sql_word_count('text')} AS n_words,"
        f" {osql.sql_bpe_count('text')} AS n_bpe FROM documents"
    )


# --------------------------------------------------------------------------
# deduplication suite
# --------------------------------------------------------------------------


def dedup01_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized text; keep = min doc_id."""
    d = T(spark, sf_dir, "documents").withColumn(
        "tkey", exact_text_key(F.col("text"))
    )
    w = Window.partitionBy("tkey")
    return d.select(
        "doc_id",
        (F.count("*").over(w) > 1).alias("is_dup"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


SQL_DEDUP01 = None  # filled below (needs oracle snippets)


def dedup02_ngram_jaccard(spark, sf_dir):
    """Exact 5-gram jaccard near-dup pairs (the ground truth the LSH path
    must reproduce)."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", tx.normalize_text(F.col("text")).alias("nt")
    ).select(
        "doc_id", tx.char_shingles(F.col("nt"), 5, normalize=False).alias("sh")
    )
    e = d.select("doc_id", F.explode("sh").alias("s"))
    sz = d.select("doc_id", F.size("sh").alias("n"))
    pairs = (
        e.alias("x")
        .join(e.alias("y"), "s")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("ni"))
    )
    out = (
        pairs.join(sz.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sz.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn(
            "jacc",
            F.round(F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")).cast("double"), 6),
        )
        .where(F.col("jacc") >= DEDUP_TAU)
    )
    return out.select("a", "b", "jacc")


def _sql_dedup02():
    sh = osql.sql_char_shingles("text", 5)
    return f"""
WITH d AS (SELECT doc_id, {sh} AS sh FROM documents),
e AS (SELECT doc_id, unnest(sh) AS s FROM d),
sz AS (SELECT doc_id, len(sh) AS n FROM d),
p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ni
      FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
SELECT a, b, round(ni / CAST(sa.n + sb.n - ni AS DOUBLE), 6) AS jacc
FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
WHERE round(ni / CAST(sa.n + sb.n - ni AS DOUBLE), 6) >= {DEDUP_TAU}
"""


def dedup03_minhash_lsh(spark, sf_dir, hash_fn=None):
    """MinHash-LSH near-dup pairs, three-tier (the 100TB shape):
      1. band-bucket join -> candidate pairs (never the quadratic shingle
         self-join; on this vocabulary-dense corpus background jaccard is
         ~0.25, so band collisions alone admit many pairs);
      2. signature-agreement estimate filters candidates to ~the true dups
         (16 positions; P(est<0.5 | j>=0.93) is negligible);
      3. exact jaccard verifies survivors -> oracle parity with the exact
         SQL (recall 1 up to the LSH miss prob (1-j^2)^8 ~ 8e-8 at j=0.93).

    COST DECOMPOSITION (r7, DIAG_DEDUP03.json — VERDICT r6 #5): at sf0.1
    the ~6s is ~50% tier-3 exact verify + ~25% tier-1 signature table; the
    verify work is proportional to band candidates, and candidates are AT
    the theoretical rate for this corpus's ~0.25 background jaccard
    (1-(1-j^3)^6 ~ 9% of all pairs) — the floor is corpus statistics, not
    plan shape. The xxhash64 variant's +22% is NOT hash cost (its
    signature tier is 3.9x CHEAPER, 0.54s vs 1.78s): poly_hash's 5-gram
    values cluster in ~5% of [0,P) and under-admit background pairs
    (464k candidates vs xxh's statistically-faithful 899k), so the xxh
    path simply does the honest candidate volume downstream. A
    hashed-long verify join (intersect on the sig table's shingle hashes
    instead of strings) was A/B-measured slower (+0.3-1s: the extra
    (id,h) materialization outweighs the string-key saving on this
    short-shingle vocabulary) — not taken.

    r8 restructure (same three tiers, same output, ~2.2x faster): the sig
    tier is a numpy batch kernel (minhash_sigs_np_udf, bit-parity pinned;
    both base hashes now run it); the agreement filter rides the band join
    map-side before the dedup exchange; the exact verify is one
    array_intersect per surviving pair over the stored distinct-shingle
    arrays instead of the explode-join (which built a candidates x
    |shingles| row intermediate). Candidate admission counts are
    bit-identical (463632 band candidates / 44445 survivors at sf0.1,
    matching DIAG_DEDUP03.json).
    """
    # own the parallelism BEFORE the shingle transform: a small parquet scan
    # is 1 split, and the shingle/signature pass is the heaviest map-side
    # work in the query — repartition the raw text first so it runs on
    # every core, not the scan's one task
    par = spark.sparkContext.defaultParallelism
    nh = DEDUP_BANDS * DEDUP_ROWS
    base = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # null-text docs get no signature (the kernel's NULL contract), so
        # they never become candidates: drop them at the scan, so the
        # checkpoint below holds no text column at all. The test is on the
        # raw text (NULL iff its normalized form is): a filter on `nt` would
        # be pushed into the one-task scan as a second normalize pass. The
        # corpus has none; the contract is kept regardless.
        .where(F.col("text").isNotNull())
        # hash keys, not round-robin (r8): no sort-before-repartition pass
        .repartition(par, F.col("doc_id"))
        # normalize ONCE per row; inside the shingle lambda it would run per
        # shingle (see char_shingles docstring)
        .select("doc_id", tx.normalize_text(F.col("text")).alias("nt"))
    )
    # ONE signature pass feeds both band keys and agreement signatures:
    # the numpy batch kernel (minhash_sigs_np_udf) over either base hash —
    # hash_fn=None is the portable poly_hash, hash_fn=hashing.xxhash64_mod
    # the production fast path (numpy port of Spark's xxhash64). Values are
    # bit-identical to the explode -> groupBy(id) signature table (pinned by
    # tests/test_functions.py::test_minhash_numpy_kernel_parity); r8 guide
    # §4.2: one map pass instead of shuffling the (doc, shingle) frame, and
    # shingles + signature ride ONE lazy checkpoint, so the whole query is
    # a single job.
    d = base.select(
        "doc_id",
        tx.char_shingles(F.col("nt"), 5, normalize=False).alias("sh"),
        minhash_sigs_np_udf(5, nh, hash_fn)(F.col("nt")).alias("sig"),
    ).localCheckpoint(eager=False)
    sigs = d.select("doc_id", "sig")
    # band-bucket self-join with the signature RIDING the key rows (144B of
    # fixed payload per key row), so the agreement filter runs MAP-SIDE in
    # the join stage — before any distinct — and the dedup exchange only
    # carries agreement SURVIVORS (guide §2.3 "aggregate/filter before you
    # shuffle": band candidates outnumber survivors ~10x on this corpus).
    # r8 plan diff vs the old tail (distinct -> two sig re-joins by id ->
    # filter): 5 serial exchanges + 2 broadcast builds -> 2 exchanges, and
    # the agreement expression is flat position comparisons (codegen)
    # instead of the interpreted zip_with lambda. Measured: tail 3.4-4.1s
    # -> 1.1s at identical output. The explicit repartition keeps the
    # skinny survivor frame at session parallelism for the verify stage
    # (AQE otherwise coalesces ~1MB of survivors to ONE task, serializing
    # the array_intersect verify; par = defaultParallelism, scale-adaptive);
    # dropDuplicates reuses that same exchange (same keys, same partition
    # count — no extra shuffle).
    keyed = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            band_keys_from_sig_array(F.col("sig"), DEDUP_BANDS, DEDUP_ROWS)
        ).alias("bk"),
    )
    cand = (
        keyed.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"), "bk")
        .join(
            keyed.select(
                F.col("doc_id").alias("b"), F.col("sig").alias("sigb"), "bk"
            ),
            "bk",
        )
        .where(F.col("a") < F.col("b"))
        .where(sig_agreement_flat(F.col("siga"), F.col("sigb"), nh) >= 0.5)
        .select("a", "b")
        .repartition(par, "a", "b")
        .dropDuplicates()
    )
    # exact verify on the stored distinct-shingle arrays: one array_intersect
    # per surviving pair (JVM hash-set build, codegen) instead of the old
    # explode-join (candidates x |shingles| intermediate rows — ~12M rows
    # for 44k survivors at sf0.1 — through two joins and a groupBy; r8,
    # guide §2.3/§2.4: same bytes per pair, two fewer exchanges and no
    # 280x row expansion). Intersecting STRINGS keeps the count exactly
    # dedup02's distinct-shingle semantics (hash collisions could shave a
    # count by 1 and flip the 6dp rounding).
    out = (
        cand.join(
            d.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")), "a"
        )
        .join(
            d.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")), "b"
        )
        .withColumn("ni", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jacc",
            F.round(
                F.col("ni")
                / (F.size("sha") + F.size("shb") - F.col("ni")).cast("double"),
                6,
            ),
        )
        .where(F.col("jacc") >= DEDUP_TAU)
    )
    return out.select("a", "b", "jacc")


def _doc_simhash(spark, sf_dir):
    """(doc_id, simhash) via the explode->groupBy shape (simhash_exploded:
    distinct-token hashing, no per-bit re-pass); empty-token docs get 0."""
    par = spark.sparkContext.defaultParallelism
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(par)
        .select("doc_id", tx.tokens(F.col("text")).alias("tk"))
    )
    sh = simhash_exploded(d, "doc_id", F.col("tk"), 32).withColumnRenamed(
        "id", "doc_id"
    )
    return d.select("doc_id").join(sh, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def dedup04_simhash(spark, sf_dir):
    """Portable SimHash per document (dedup by hamming-ball grouping)."""
    return _doc_simhash(spark, sf_dir)


def _sql_dedup04():
    return (
        f"SELECT doc_id, {osql.sql_simhash(osql.sql_tokens('text'), 32)} AS simhash"
        f" FROM documents"
    )


# --------------------------------------------------------------------------
# similarity search (ANN over embeddings)
# --------------------------------------------------------------------------


def _top_by_cos(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of scored (qid, nid, cos) rows: rank by cos
    descending, ties broken by the smaller nid."""
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "nid")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cos")
    )


def _hp_bucket(vec):
    """Bucket id of the single hyperplane table (HP_BUCKETS) for a vector
    column; NULL for a NULL vector."""
    return HP_BUCKETS(vec)[0]


def _bucketed_embeddings(spark, sf_dir):
    """(vec_id, embedding, bucket) for the bucket self-joins of ann03/ann06.
    Both join sides read it, and the build side is broadcast, so without the
    lazy local checkpoint each side would run the bucket kernel over the
    whole table; with it the kernel runs once, inside the query's first
    job."""
    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _hp_bucket(F.col("embedding")).alias("bucket"),
    ).localCheckpoint(eager=False)


def ann01_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: the correctness baseline. Query side is
    broadcast; every (query, vector) pair is scored by the numpy cosine
    kernel."""
    v = T(spark, sf_dir, "embeddings")
    q = v.where(F.col("vec_id") < ANN_NQUERY).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pairs = F.broadcast(q).crossJoin(
        v.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"))
    ).where(F.col("qid") != F.col("nid"))
    scored = pairs.select(
        "qid",
        "nid",
        emb.cosine_similarity(F.col("qv"), F.col("nv")).alias("cos"),
    )
    return _top_by_cos(scored, ANN_K)


def _sql_ann01():
    cos = osql.sql_cosine("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, {cos} AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {ANN_NQUERY}
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cos FROM ranked WHERE rank <= {ANN_K}
"""


def ann02_hyperplane_bucket(spark, sf_dir):
    """Random-hyperplane LSH bucket assignment (the scale path for ANN:
    join within bucket instead of full cross)."""
    v = T(spark, sf_dir, "embeddings")
    return v.select(
        "vec_id", _hp_bucket(F.col("embedding")).alias("bucket")
    )


def _sql_ann02():
    return (
        f"SELECT vec_id, {osql.sql_hyperplane_bucket('embedding', HP_PLANES)}"
        f" AS bucket FROM embeddings"
    )


def ann03_lsh_topk(spark, sf_dir):
    """Bucketed ANN: cosine top-k *within* hyperplane bucket — the
    100TB-shape query (shuffle on bucket, no global cross join).

    BASELINE-ONLY operator (VERDICT r2 #5): a SINGLE 8-plane table gives
    measured recall ~0 on this corpus's near-uniform vectors (median
    true-neighbor cosine 0.37 — the tuning math is at the ANN_PLANES note
    further down this file). It exists as the single-table contrast baseline
    for ann05 (16x4-plane OR-amplified, recall@5 ~0.9, the headline ANN
    entry in bench.py) — do NOT use ann03 for production neighbor lookup."""
    v = _bucketed_embeddings(spark, sf_dir)
    a = v.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "bucket"
    )
    b = v.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"), "bucket"
    )
    scored = (
        a.join(b, "bucket")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", emb.cosine_similarity(F.col("qv"), F.col("nv")).alias("cos"))
    )
    return _top_by_cos(scored, 3)


def _sql_ann03():
    bkt = osql.sql_hyperplane_bucket("embedding", HP_PLANES)
    cos = osql.sql_cosine("a.embedding", "b.embedding")
    return f"""
WITH v AS (SELECT vec_id, embedding, {bkt} AS bucket FROM embeddings),
scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid, {cos} AS cos
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cos FROM ranked WHERE rank <= 3
"""


def ann06_multiprobe_lsh(spark, sf_dir):
    """Multi-probe single-table LSH (VERDICT r2 #5's recall fix for the
    ann03 shape): each query probes its OWN bucket plus the 8 Hamming-1
    neighbor buckets (flip one hyperplane bit) — the standard multi-probe
    trick (Lv et al., VLDB'07): a true neighbor lost to ONE disagreeing
    plane is recovered, so hit prob rises from p^8 to p^8 + 8*p^7*(1-p)
    (~7x at this corpus's p~0.63) at 9x candidate cost — still a bucketed
    equi-join, never a cross join. The probe explosion is on the QUERY side
    only; each (query, neighbor) pair matches at most one probe code, so no
    dedup pass is needed."""
    v = _bucketed_embeddings(spark, sf_dir)
    masks = [0] + [1 << j for j in range(8)]
    probes = F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
    a = v.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.explode(probes).alias("bucket"),
    )
    b = v.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"), "bucket"
    )
    scored = (
        a.join(b, "bucket")
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid", "nid", emb.cosine_similarity(F.col("qv"), F.col("nv")).alias("cos")
        )
    )
    return _top_by_cos(scored, 3)


def _sql_ann06():
    bkt = osql.sql_hyperplane_bucket("embedding", HP_PLANES)
    cos = osql.sql_cosine("q.embedding", "b.embedding")
    masks = ", ".join(str(m) for m in [0] + [1 << j for j in range(8)])
    return f"""
WITH v AS (SELECT vec_id, embedding, {bkt} AS bucket FROM embeddings),
m AS (SELECT unnest([{masks}]) AS mask),
q AS (SELECT vec_id, embedding, xor(bucket, CAST(mask AS BIGINT)) AS probe
      FROM v CROSS JOIN m),
scored AS (
  SELECT q.vec_id AS qid, b.vec_id AS nid, {cos} AS cos
  FROM q JOIN v b ON q.probe = b.bucket AND q.vec_id != b.vec_id
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cos FROM ranked WHERE rank <= 3
"""




def ann04_block_matmul(spark, sf_dir):
    """Within-block batched matmul top-k via applyInPandas — the reference's
    exact within-block scoring (`main_dense.py:252-257` full matmul + topk
    against the candidate pool; north_star: "within-block batched matmul in
    applyInPandas"). Groups by hyperplane bucket; each group computes an
    n_q x n_c cosine matrix in numpy and emits top-3 rows. Must produce
    exactly ann03's output (same bucketing, exact within-bucket scoring) —
    the oracle is ann03's SQL."""
    import numpy as np
    import pandas as pd

    # a NULL vector has a NULL bucket, which ann03's equi-join never
    # matches: drop it here too rather than group it
    v = T(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull()).select(
        "vec_id",
        "embedding",
        _hp_bucket(F.col("embedding")).alias("bucket"),
    )

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_list()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = (m @ m.T) / np.maximum(np.outer(norms, norms), 1e-12)
        np.fill_diagonal(sims, -np.inf)
        sims = np.round(sims, 6)
        out = {"qid": [], "nid": [], "rank": [], "cos": []}
        k = min(3, len(ids) - 1)
        if k <= 0:
            return pd.DataFrame(out)
        for i in range(len(ids)):
            # sort by (-cos, nid) for the deterministic tie-break
            order = np.lexsort((ids, -sims[i]))[:k]
            for r, j in enumerate(order, start=1):
                out["qid"].append(ids[i])
                out["nid"].append(ids[j])
                out["rank"].append(r)
                out["cos"].append(sims[i][j])
        return pd.DataFrame(out)

    return v.groupBy("bucket").applyInPandas(
        topk, schema="qid long, nid long, rank long, cos double"
    )


# --------------------------------------------------------------------------
# entity-resolution pipeline queries (SQL-parity variants over transcripts
# derived deterministically from `documents` — same derivation both dialects)
# --------------------------------------------------------------------------


def _derived_transcripts(spark, sf_dir):
    """conv_id = 'c'||(doc_id%40), turn_idx = doc_id//40 — the transcript
    shape (input_hint) from the shared documents table."""
    d = T(spark, sf_dir, "documents").where(F.col("doc_id") < ER_MAX_DOC)
    return d.select(
        F.concat(F.lit("c"), (F.col("doc_id") % 40).cast("string")).alias("conv_id"),
        F.floor(F.col("doc_id") / 40).cast("int").alias("turn_idx"),
        "doc_id",
        "text",
    )


SQL_ER_TRANSCRIPTS = f"""
SELECT 'c' || CAST(doc_id % 40 AS VARCHAR) AS conv_id,
       CAST(doc_id // 40 AS INT) AS turn_idx, doc_id, text
FROM documents WHERE doc_id < {ER_MAX_DOC}
"""


def _er_dict_df(spark):
    return spark.createDataFrame(
        [(i, w) for i, w in enumerate(ER_DICT)], "wid long, word string"
    )


SQL_ER_DICT = "(VALUES " + ", ".join(
    f"({i}, '{w}')" for i, w in enumerate(ER_DICT)
) + ") AS dict(wid, word)"


def er01_mentions(spark, sf_dir):
    """U1 dictionary mention extraction, first occurrence per (turn, word),
    1-based char offset via instr — SQL-parity variant of operators/
    mentions.extract_mentions (the full multi-occurrence dictionary extractor is
    exercised by the pipeline tests)."""
    tr = _derived_transcripts(spark, sf_dir)
    d = F.broadcast(_er_dict_df(spark))
    m = tr.crossJoin(d).withColumn("pos", F.instr(F.col("text"), F.col("word")))
    return m.where(F.col("pos") > 0).select(
        (F.col("doc_id") * 10 + F.col("wid")).alias("mention_id"),
        "conv_id",
        "turn_idx",
        F.col("word").alias("mention"),
        F.col("pos").cast("long").alias("start_pos"),
    )


def _sql_er01():
    return f"""
WITH tr AS ({SQL_ER_TRANSCRIPTS}),
m AS (SELECT tr.*, dict.wid, dict.word, strpos(tr.text, dict.word) AS pos
      FROM tr CROSS JOIN {SQL_ER_DICT})
SELECT doc_id*10 + wid AS mention_id, conv_id, turn_idx,
       word AS mention, CAST(pos AS BIGINT) AS start_pos
FROM m WHERE pos > 0
"""


def _er_pairs_of(m):
    """Prefix-key blocking self-join over a mention frame -> (a, b, ma, mb)
    with a < b (shared by the full-batch er02/er03/er04 chain and the
    append-mode er05 delta, which blocks over the SAME frame and filters)."""
    m = m.withColumn("bk", F.substring("mention", 1, 1))
    a = m.select(F.col("mention_id").alias("a"), F.col("mention").alias("ma"), "bk")
    b = m.select(F.col("mention_id").alias("b"), F.col("mention").alias("mb"), "bk")
    return a.join(b, "bk").where(F.col("a") < F.col("b"))


def _er_scored_pairs(p):
    """er03's scorer (jw*0.6 + lev*0.4, rounded 6dp) over a pair frame."""
    jw = jaro_winkler_udf(F.col("ma"), F.col("mb"))
    lev = levenshtein_sim(F.col("ma"), F.col("mb"))
    return p.select(
        "a",
        "b",
        F.round(jw, 6).alias("jw"),
        lev.alias("lev_sim"),
        F.round(jw * 0.6 + lev * 0.4, 6).alias("score"),
    )


def _er_pairs(spark, sf_dir):
    return _er_pairs_of(er01_mentions(spark, sf_dir))


SQL_ER_PAIRS_BASE = """
WITH tr AS ({tr}),
m0 AS (SELECT tr.*, dict.wid, dict.word, strpos(tr.text, dict.word) AS pos
       FROM tr CROSS JOIN {dict}),
m AS (SELECT doc_id*10 + wid AS mention_id, word AS mention,
             substr(word, 1, 1) AS bk
      FROM m0 WHERE pos > 0),
p AS (SELECT x.mention_id AS a, y.mention_id AS b, x.mention AS ma, y.mention AS mb
      FROM m x JOIN m y ON x.bk = y.bk AND x.mention_id < y.mention_id)
"""


def er02_candidate_pairs(spark, sf_dir):
    """Blocking self-join on prefix key -> candidate pairs (J7/J8 shape)."""
    return _er_pairs(spark, sf_dir).select("a", "b")


def _sql_er02():
    base = SQL_ER_PAIRS_BASE.format(tr=SQL_ER_TRANSCRIPTS, dict=SQL_ER_DICT)
    return base + "SELECT a, b FROM p"


def er03_scored_pairs(spark, sf_dir):
    """U4 pairwise scorer, SQL-parity feature subset (jw + levenshtein —
    DuckDB has both; the embedding feature is covered by pipeline tests)."""
    return _er_scored_pairs(_er_pairs(spark, sf_dir))


def _sql_er03():
    base = SQL_ER_PAIRS_BASE.format(tr=SQL_ER_TRANSCRIPTS, dict=SQL_ER_DICT)
    jw = osql.sql_jaro_winkler("ma", "mb")
    lev = osql.sql_levenshtein_sim("ma", "mb")
    return base + (
        f"SELECT a, b, {jw} AS jw, {lev} AS lev_sim,"
        f" round({jw}*0.6 + {lev}*0.4, 6) AS score FROM p"
    )


def er04_clusters(spark, sf_dir):
    """Transitive clustering over accepted edges — our large-star/small-star
    connected components, oracle-checked against a recursive-CTE transitive
    closure in DuckDB. cluster_id = min mention_id in the component."""
    # one shared mention frame (r8): the scored-pair subtree and the nodes
    # side both embed the er01 extraction; a lazy local checkpoint
    # materializes it once inside the query's own first action instead of
    # executing the scan+cross-join subtree per consumer
    m = er01_mentions(spark, sf_dir).localCheckpoint(eager=False)
    scored = _er_scored_pairs(_er_pairs_of(m))
    edges = scored.where(F.col("score") >= ER_THRESHOLD).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    nodes = m.select(F.col("mention_id").alias("node"))
    cc = connected_components(edges, nodes=nodes)
    return cc.select(
        F.col("node").alias("mention_id"), F.col("component").alias("cluster_id")
    )


def _sql_er04():
    base = SQL_ER_PAIRS_BASE.format(tr=SQL_ER_TRANSCRIPTS, dict=SQL_ER_DICT)
    base = base.replace("WITH tr AS", "WITH RECURSIVE tr AS", 1)
    jw = osql.sql_jaro_winkler("ma", "mb")
    lev = osql.sql_levenshtein_sim("ma", "mb")
    return base + f""",
e AS (SELECT a, b FROM p WHERE round({jw}*0.6 + {lev}*0.4, 6) >= {ER_THRESHOLD}),
sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
reach(u, v) AS (
  SELECT mention_id, mention_id FROM m
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
)
SELECT u AS mention_id, min(v) AS cluster_id FROM reach GROUP BY u
"""


# append-mode split: documents with doc_id < 40 are the EXISTING (already
# clustered) base batch; 40 <= doc_id < ER_MAX_DOC arrive as the delta.
# mention_id = doc_id*10 + wid with len(ER_DICT) < 10, so mention ids are
# monotone in doc_id and "pair touches the delta" <=> b >= 400 (b = the
# greater id).
ER_APPEND_SPLIT = 40


def _er_base_state(m: DataFrame) -> DataFrame:
    """The prior state of an append run: (node, component) clusters of the
    base batch's mentions alone. In production it is read back from the
    previous run's sink; built here by the same operator so the queries
    stay self-contained and deterministic."""
    base_m = m.where(F.col("mention_id") < ER_APPEND_SPLIT * 10)
    base_edges = (
        _er_scored_pairs(_er_pairs_of(base_m))
        .where(F.col("score") >= ER_THRESHOLD)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return connected_components(
        base_edges, nodes=base_m.select(F.col("mention_id").alias("node"))
    )


def _er_append(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """(state, cc) of an append run: `state` = _er_base_state, `cc` = the
    clusters of every mention after the delta batch merged in. Blocking
    runs over the full frame (same keys as the base run) but ONLY
    delta-touching pairs are scored; the state enters as star edges."""
    split_id = ER_APPEND_SPLIT * 10
    m = er01_mentions(spark, sf_dir)
    state = _er_base_state(m)
    delta_edges = (
        _er_scored_pairs(_er_pairs_of(m).where(F.col("b") >= split_id))
        .where(F.col("score") >= ER_THRESHOLD)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    star = state.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    cc = connected_components(
        delta_edges.unionByName(star),
        nodes=m.select(F.col("mention_id").alias("node")),
    )
    return state, cc


def er05_incremental_clusters(spark, sf_dir):
    """Append-mode linkage (VERDICT r5 #5a): a NEW batch of transcripts
    arrives against an EXISTING cluster state and must merge into it
    without rescoring the base batch against itself.

    Shape (the 100 TB shape — delta cost, not corpus cost):
    * state = the base batch's clusters (in production, read back from the
      previous run's sink; built here by the same operator so the query is
      self-contained and deterministic) enters the closure as STAR edges
      (mention -> its cluster representative) — linear in the state, no
      rescoring;
    * only pairs TOUCHING the delta are scored (b >= split: ids are
      monotone in doc_id, and a < b, so both-base pairs are exactly the
      b < split ones) — |delta x blockmates| comparisons, never the full
      self-join;
    * one connected-components pass over star + delta edges re-labels
      everything, letting a delta mention MERGE two existing clusters.

    The oracle is the FULL-batch recompute (er04's recursive-CTE closure +
    a batch column): the driver's value-hash check therefore pins the
    append invariant itself — incremental(state, delta) == batch(full).
    """
    split_id = ER_APPEND_SPLIT * 10
    _, cc = _er_append(spark, sf_dir)
    return cc.select(
        F.col("node").alias("mention_id"),
        F.col("component").alias("cluster_id"),
        F.when(F.col("node") < split_id, F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("batch"),
    )


def _sql_er05():
    """Full-batch recompute = er04's closure + the batch label; equality
    with the Spark incremental path IS the append invariant."""
    return _sql_er04().replace(
        "SELECT u AS mention_id, min(v) AS cluster_id FROM reach GROUP BY u",
        f"SELECT u AS mention_id, min(v) AS cluster_id,"
        f" CAST(CASE WHEN u < {ER_APPEND_SPLIT * 10} THEN 0 ELSE 1 END AS INT)"
        f" AS batch FROM reach GROUP BY u",
    )


def er06_cluster_drift(spark, sf_dir):
    """Cluster-quality drift metric (VERDICT r5 #5b): pairwise
    precision/recall/F1 of run N+1 vs run N over their OVERLAPPING
    mentions — here run N = the base batch clustered alone, run N+1 = the
    full corpus after the delta batch merged in (er05's before/after),
    restricted to base mentions. recall 1.0 with precision < 1.0 reads as
    "the delta only MERGED existing clusters" (monotone growth — the
    expected append-mode signature); recall < 1.0 would mean an append
    SPLIT an existing cluster, which the star-edge construction makes
    impossible — so this metric doubles as a production invariant check.
    """
    split_id = ER_APPEND_SPLIT * 10

    # run N: base batch clustered alone (the er05 state)
    prev = _er_base_state(er01_mentions(spark, sf_dir)).select(
        F.col("node").alias("mention_id"), F.col("component").alias("c")
    )

    # run N+1: full clustering, restricted to the overlapping (base) mentions
    curr = (
        er04_clusters(spark, sf_dir)
        .where(F.col("mention_id") < split_id)
        .select("mention_id", F.col("cluster_id").alias("c"))
    )

    def _same_cluster_pairs(df):
        a = df.select(F.col("mention_id").alias("u"), "c")
        b = df.select(F.col("mention_id").alias("v"), "c")
        return a.join(b, "c").where(F.col("u") < F.col("v")).select("u", "v")

    pp = _same_cluster_pairs(prev).withColumn("in_prev", F.lit(1))
    pc = _same_cluster_pairs(curr).withColumn("in_curr", F.lit(1))
    j = pp.join(pc, ["u", "v"], "full_outer")
    agg = j.agg(
        F.sum("in_prev").alias("pairs_prev"),
        F.sum("in_curr").alias("pairs_curr"),
        F.sum(F.col("in_prev") * F.col("in_curr")).alias("pairs_both"),
    )
    p = F.col("pairs_both") / F.col("pairs_curr")
    r = F.col("pairs_both") / F.col("pairs_prev")
    return agg.select(
        "pairs_prev",
        "pairs_curr",
        "pairs_both",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(2 * p * r / (p + r), 6).alias("f1"),
    )


def _sql_er06():
    base = SQL_ER_PAIRS_BASE.format(tr=SQL_ER_TRANSCRIPTS, dict=SQL_ER_DICT)
    base = base.replace("WITH tr AS", "WITH RECURSIVE tr AS", 1)
    jw = osql.sql_jaro_winkler("ma", "mb")
    lev = osql.sql_levenshtein_sim("ma", "mb")
    split_id = ER_APPEND_SPLIT * 10
    return base + f""",
e AS (SELECT a, b FROM p WHERE round({jw}*0.6 + {lev}*0.4, 6) >= {ER_THRESHOLD}),
sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
reach(u, v) AS (
  SELECT mention_id, mention_id FROM m
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
curr AS (SELECT u AS mention_id, min(v) AS c FROM reach
         WHERE u < {split_id} GROUP BY u),
eb AS (SELECT a, b FROM e WHERE b < {split_id}),
symb AS (SELECT a AS u, b AS v FROM eb UNION SELECT b, a FROM eb),
reachb(u, v) AS (
  SELECT mention_id, mention_id FROM m WHERE mention_id < {split_id}
  UNION
  SELECT r.u, s.v FROM reachb r JOIN symb s ON r.v = s.u
),
prev AS (SELECT u AS mention_id, min(v) AS c FROM reachb GROUP BY u),
pp AS (SELECT x.mention_id AS u, y.mention_id AS v FROM prev x
       JOIN prev y ON x.c = y.c AND x.mention_id < y.mention_id),
pc AS (SELECT x.mention_id AS u, y.mention_id AS v FROM curr x
       JOIN curr y ON x.c = y.c AND x.mention_id < y.mention_id),
j AS (SELECT coalesce(pp.u, pc.u) AS u, coalesce(pp.v, pc.v) AS v,
             CASE WHEN pp.u IS NULL THEN NULL ELSE 1 END AS in_prev,
             CASE WHEN pc.u IS NULL THEN NULL ELSE 1 END AS in_curr
      FROM pp FULL OUTER JOIN pc ON pp.u = pc.u AND pp.v = pc.v)
SELECT CAST(sum(in_prev) AS BIGINT) AS pairs_prev,
       CAST(sum(in_curr) AS BIGINT) AS pairs_curr,
       CAST(sum(in_prev * in_curr) AS BIGINT) AS pairs_both,
       round(sum(in_prev * in_curr) / CAST(sum(in_curr) AS DOUBLE), 6)
         AS precision,
       round(sum(in_prev * in_curr) / CAST(sum(in_prev) AS DOUBLE), 6)
         AS recall,
       round(2 * (sum(in_prev * in_curr) / CAST(sum(in_curr) AS DOUBLE))
               * (sum(in_prev * in_curr) / CAST(sum(in_prev) AS DOUBLE))
             / ((sum(in_prev * in_curr) / CAST(sum(in_curr) AS DOUBLE))
                + (sum(in_prev * in_curr) / CAST(sum(in_prev) AS DOUBLE))), 6)
         AS f1
FROM j
"""


def er07_append_upsert(spark, sf_dir):
    """The production WRITE of an append run (r7, VERDICT r6 #3 at query
    level; pipeline form = run_kb_free_append(output='delta')): only rows
    whose assignment is NEW or CHANGED by the delta batch — every delta
    mention, plus base mentions whose cluster_id moved because a delta
    mention merged their cluster with a lower-min one. Rows absent from
    the upsert are unchanged; applying it over the state reproduces the
    full recompute. At 10^12 turns this is what makes continuous ingestion
    viable: the sink write is |delta + relabeled members|, never the
    corpus.

    The Spark side computes assignments INCREMENTALLY (er05's star-edge
    construction: state enters as linear star edges, only delta-touching
    pairs are scored) and diffs against the state; the oracle recomputes
    BOTH clusterings from scratch in SQL and applies the same diff — so
    the driver's value-hash check pins the upsert-selection semantics on
    top of er05's incremental==batch invariant.
    """
    state, cc = _er_append(spark, sf_dir)
    old = state.select("node", F.col("component").alias("old_c"))
    return (
        cc.join(old, "node", "left")
        .where(F.col("old_c").isNull() | (F.col("old_c") != F.col("component")))
        .select(
            F.col("node").alias("mention_id"),
            F.col("component").alias("cluster_id"),
            F.col("old_c").isNull().cast("int").alias("is_new"),
        )
    )


def _sql_er07():
    """Full-batch recompute of BOTH clusterings + the same changed-row
    diff the Spark incremental path applies."""
    base = SQL_ER_PAIRS_BASE.format(tr=SQL_ER_TRANSCRIPTS, dict=SQL_ER_DICT)
    base = base.replace("WITH tr AS", "WITH RECURSIVE tr AS", 1)
    jw = osql.sql_jaro_winkler("ma", "mb")
    lev = osql.sql_levenshtein_sim("ma", "mb")
    split_id = ER_APPEND_SPLIT * 10
    return base + f""",
e AS (SELECT a, b FROM p WHERE round({jw}*0.6 + {lev}*0.4, 6) >= {ER_THRESHOLD}),
sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
reach(u, v) AS (
  SELECT mention_id, mention_id FROM m
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
full_asg AS (SELECT u AS mention_id, min(v) AS cluster_id FROM reach GROUP BY u),
eb AS (SELECT a, b FROM e WHERE b < {split_id}),
symb AS (SELECT a AS u, b AS v FROM eb UNION SELECT b, a FROM eb),
reachb(u, v) AS (
  SELECT mention_id, mention_id FROM m WHERE mention_id < {split_id}
  UNION
  SELECT r.u, s.v FROM reachb r JOIN symb s ON r.v = s.u
),
state AS (SELECT u AS mention_id, min(v) AS cluster_id FROM reachb GROUP BY u)
SELECT f.mention_id, f.cluster_id,
       CAST(CASE WHEN s.mention_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_new
FROM full_asg f LEFT JOIN state s ON f.mention_id = s.mention_id
WHERE s.mention_id IS NULL OR s.cluster_id != f.cluster_id
"""


def er08_golden_record(spark, sf_dir):
    """Golden-record / survivorship rollup (r7) — the canonical ER OUTPUT
    table a production MDM pipeline publishes after clustering (reference
    analogue: the entity side of `blink/main_dense.py`'s id2title maps —
    one canonical title per linked entity): one row per er04 cluster with
    the survivorship-selected canonical surface plus membership telemetry
    (size, distinct surfaces, conversation spread).

    Survivorship rule: longest member surface, ties broken by greatest
    string — deterministic and expressed as ONE map-side struct-max agg
    (the W4 argmax shape, skew-immune), NOT a per-cluster sort. 100 TB
    shape: a single hash-agg keyed by cluster_id over the already-
    clustered mentions; no self-joins, no windows over the full corpus."""
    cc = er04_clusters(spark, sf_dir)
    m = er01_mentions(spark, sf_dir)
    j = m.join(cc, "mention_id")
    return j.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.countDistinct("mention").alias("n_surfaces"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.max(
            F.struct(F.length("mention").alias("l"), F.col("mention").alias("s"))
        )["s"].alias("canonical"),
    )


def _sql_er08():
    """er04's recursive-CTE closure + a per-cluster rollup; the canonical
    pick is a row_number window (DuckDB has no struct-max) ordered by the
    same (length DESC, string DESC) survivorship rule."""
    cc = _sql_er04()
    head, _, _ = cc.rpartition("SELECT u AS mention_id, min(v) AS cluster_id")
    return head + f""",
cc AS (SELECT u AS mention_id, min(v) AS cluster_id FROM reach GROUP BY u),
mm AS (SELECT doc_id*10 + wid AS mention_id, word AS mention, conv_id
       FROM m0 WHERE pos > 0),
jj AS (SELECT cc.cluster_id, mm.mention, mm.conv_id
       FROM mm JOIN cc ON mm.mention_id = cc.mention_id),
can AS (SELECT cluster_id, mention,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY length(mention) DESC, mention DESC)
                 AS rn
        FROM (SELECT DISTINCT cluster_id, mention FROM jj))
SELECT g.cluster_id, g.n_members, g.n_surfaces, g.n_convs, c.canonical
FROM (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
             CAST(count(DISTINCT mention) AS BIGINT) AS n_surfaces,
             CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
      FROM jj GROUP BY cluster_id) g
JOIN (SELECT cluster_id, mention AS canonical FROM can WHERE rn = 1) c
  ON g.cluster_id = c.cluster_id
"""


def er09_blocking_quality(spark, sf_dir):
    """Blocking-quality telemetry (r7) — the two standard record-linkage
    blocking metrics (reference analogue: the recall@k candidate-quality
    loop in `blink/main_dense.py:73-92`, which measures whether candidate
    generation kept the gold entity): **pair completeness** (fraction of
    truly-matching pairs the blocker admits) and **reduction ratio**
    (fraction of the n*(n-1)/2 comparison space the blocker prunes).

    Ground truth = the all-pairs scorer at ER_THRESHOLD — quadratic BY
    DESIGN on the bounded ER slice, same pattern as dedup02's exact
    ground-truth baseline. 100 TB shape: reduction ratio is exact from two
    counts at any scale; pair completeness is estimated on a labeled-pair
    sample (the A5 golden-sample machinery) because exact gold is
    corpus-quadratic. Single-row output via 1-row aggregate cross-joins —
    no collect, no windows."""
    m = er01_mentions(spark, sf_dir).select("mention_id", "mention")
    a = m.select(F.col("mention_id").alias("a"), F.col("mention").alias("ma"))
    b = m.select(F.col("mention_id").alias("b"), F.col("mention").alias("mb"))
    allp = a.crossJoin(b).where(F.col("a") < F.col("b"))
    gold = (
        _er_scored_pairs(allp)
        .where(F.col("score") >= ER_THRESHOLD)
        .select("a", "b")
    )
    cand = er02_candidate_pairs(spark, sf_dir)
    covered = gold.join(cand, ["a", "b"], "left_semi")
    row = (
        m.agg(F.count("*").alias("n_mentions"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidate_pairs")))
        .crossJoin(gold.agg(F.count("*").alias("n_gold_pairs")))
        .crossJoin(covered.agg(F.count("*").alias("n_gold_covered")))
    )
    n_all = F.expr("CAST(n_mentions * (n_mentions - 1) DIV 2 AS BIGINT)")
    return row.select(
        "n_mentions",
        "n_candidate_pairs",
        "n_gold_pairs",
        "n_gold_covered",
        F.round(
            F.col("n_gold_covered").cast("double") / F.col("n_gold_pairs"), 6
        ).alias("pair_completeness"),
        F.round(
            F.lit(1.0) - F.col("n_candidate_pairs").cast("double") / n_all, 6
        ).alias("reduction_ratio"),
    )


def _sql_er09():
    base = SQL_ER_PAIRS_BASE.format(tr=SQL_ER_TRANSCRIPTS, dict=SQL_ER_DICT)
    jw = osql.sql_jaro_winkler("ma", "mb")
    lev = osql.sql_levenshtein_sim("ma", "mb")
    return base + f""",
ap AS (SELECT x.mention_id AS a, y.mention_id AS b,
              x.mention AS ma, y.mention AS mb
       FROM m x JOIN m y ON x.mention_id < y.mention_id),
g AS (SELECT a, b FROM ap
      WHERE round({jw}*0.6 + {lev}*0.4, 6) >= {ER_THRESHOLD}),
cov AS (SELECT g.a FROM g JOIN p ON g.a = p.a AND g.b = p.b),
s AS (SELECT (SELECT count(*) FROM m) AS n_mentions,
             (SELECT count(*) FROM p) AS n_candidate_pairs,
             (SELECT count(*) FROM g) AS n_gold_pairs,
             (SELECT count(*) FROM cov) AS n_gold_covered)
SELECT n_mentions, n_candidate_pairs, n_gold_pairs, n_gold_covered,
       round(CAST(n_gold_covered AS DOUBLE) / n_gold_pairs, 6)
         AS pair_completeness,
       round(1.0 - CAST(n_candidate_pairs AS DOUBLE)
                   / (n_mentions * (n_mentions - 1) // 2), 6)
         AS reduction_ratio
FROM s
"""


# --------------------------------------------------------------------------
# round-1 widening: macro/micro, gold-rank, residual join, truncation,
# simhash pairs (pigeonhole-exact banding), embedding near-dup, multimodal
# --------------------------------------------------------------------------


def q15_macro_micro(spark, sf_dir):
    """A6 macro vs micro accuracy shape (train_cross.py:102-122): per-group
    mean then unweighted mean-of-means vs the global mean."""
    c = T(spark, sf_dir, "customer")
    per = c.groupBy("c_nationkey").agg(
        (F.sum(_dec("c_acctbal")) / F.count("*")).alias("g")
    )
    macro = per.agg(F.round(F.avg(F.col("g").cast("double")), 6).alias("macro"))
    micro = c.agg(
        F.round((F.sum(_dec("c_acctbal")) / F.count("*")).cast("double"), 6).alias(
            "micro"
        )
    )
    return macro.crossJoin(micro)


SQL_Q15 = """
WITH per AS (
  SELECT c_nationkey,
         sum(CAST(c_acctbal AS DECIMAL(30,10))) / count(*) AS g
  FROM customer GROUP BY 1
)
SELECT
  (SELECT round(avg(CAST(g AS DOUBLE)), 6) FROM per) AS macro,
  (SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) / count(*) AS DOUBLE), 6)
   FROM customer) AS micro
"""


def q16_gold_rank(spark, sf_dir):
    """W3 gold-rank extraction (nn_prediction.py:83-88): position of a
    designated row (linenumber 1 = the 'gold') in the per-group ranking."""
    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), "l_linenumber"
    )
    ranked = li.withColumn("rank", F.row_number().over(w))
    return ranked.groupBy("l_orderkey").agg(
        F.coalesce(
            F.min(F.when(F.col("l_linenumber") == 1, F.col("rank"))), F.lit(-1)
        ).cast("long").alias("gold_rank")
    )


SQL_Q16 = """
WITH ranked AS (
  SELECT l_orderkey, l_linenumber,
    row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_extendedprice DESC, l_linenumber) AS rank
  FROM lineitem
)
SELECT l_orderkey,
  CAST(coalesce(min(CASE WHEN l_linenumber = 1 THEN rank END), -1) AS BIGINT) AS gold_rank
FROM ranked GROUP BY 1
"""


def q17_join_residual(spark, sf_dir):
    """Equi-join + residual predicate (ship >60 days after order) — the
    non-equi condition rides on the equi shuffle, not a range join."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    # INTERVAL arithmetic, not unix_timestamp: epoch conversion depends on
    # the session timezone, which the driver's session may not pin to UTC
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_late"),
        F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_price"),
    )


SQL_Q17 = """
SELECT o_orderpriority, count(*) AS n_late,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_price
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey
 AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


def text05_truncate(spark, sf_dir):
    """F2 token-budget truncation (first-10 head / last-5 tail re-join,
    reference `candidate_retrieval/utils.py:198-208` last-25/first-25)."""
    d = T(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    head = F.array_join(F.slice(toks, 1, 10), " ")
    tail = F.array_join(
        F.slice(toks, F.greatest(F.size(toks) - F.lit(4), F.lit(1)), 5), " "
    )
    return d.select("doc_id", head.alias("head10"), tail.alias("tail5"))


def _sql_text05():
    toks = osql.sql_tokens("text")
    return f"""
SELECT doc_id,
  array_to_string(list_slice({toks}, 1, 10), ' ') AS head10,
  array_to_string(list_slice({toks}, greatest(len({toks}) - 4, 1), len({toks})), ' ') AS tail5
FROM documents
"""


def dedup05_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, banded: 4 bands x 8 bits of the 32-bit
    simhash; pairs sharing a band verified by exact hamming <= 3. Pigeonhole
    guarantee: <=3 differing bits cannot touch all 4 bands, so banding has
    recall exactly 1 at this threshold — the oracle is the exact O(n^2) SQL."""
    d = _doc_simhash(spark, sf_dir).withColumnRenamed(
        "simhash", "sh"
    ).localCheckpoint()
    bands = d.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(str(b)),
                        F.shiftright(F.col("sh"), 8 * b).bitwiseAND(F.lit(255)).cast("string"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), "bk")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.sh").alias("sa"),
            F.col("y.sh").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.where(ham <= 3).select("a", "b", ham.cast("long").alias("hamming"))


def _sql_dedup05():
    sh = osql.sql_simhash(osql.sql_tokens("text"), 32)
    return f"""
WITH d AS (SELECT doc_id, {sh} AS sh FROM documents)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
FROM d x JOIN d y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.sh, y.sh)) <= 3
"""


def dedup06_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact baseline; ann03 is the
    LSH-bucketed scale path)."""
    v = T(spark, sf_dir, "embeddings")
    a = v.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = v.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    cos = emb.cosine_similarity(F.col("va"), F.col("vb"))
    return pairs.select("a", "b", cos.alias("cos")).where(F.col("cos") >= 0.4)


def _sql_dedup06():
    cos = osql.sql_cosine("x.embedding", "y.embedding")
    return f"""
SELECT x.vec_id AS a, y.vec_id AS b, {cos} AS cos
FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
WHERE {cos} >= 0.4
"""


def multimodal01_metadata(spark, sf_dir):
    """Multimodal metadata over an opaque binary column (blob = utf-8 bytes
    of the text, standing in for image/audio payloads): byte length, kind
    tag, frame count — the JVM-side half of the multimodal suite (the
    decode/feature UDFs are exercised in tests/test_multimodal.py; no codec
    libs in this container)."""
    d = T(spark, sf_dir, "documents")
    blob = F.encode(tx.normalize_text(F.col("text")), "utf-8")
    n_bytes = F.length(blob).cast("long")
    return d.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (n_bytes % 3 + 1).cast("int"),
        ).alias("kind"),
        (F.floor(n_bytes / 64) + 1).cast("long").alias("n_frames"),
    )


def _sql_multimodal01():
    norm = osql.sql_norm("text")
    return f"""
SELECT doc_id,
  CAST(octet_length(encode({norm})) AS BIGINT) AS n_bytes,
  ['image','audio','video'][CAST(octet_length(encode({norm})) % 3 + 1 AS INT)] AS kind,
  CAST(octet_length(encode({norm})) // 64 + 1 AS BIGINT) AS n_frames
FROM documents
"""




def eval01_recall_curve(spark, sf_dir):
    """A3 recall@k curve (evaluator.py:92-124; main_dense.py:481-499):
    cumulative share of 'gold' rows ranked <= r, via groupBy(rank).count +
    cumulative window (W5) over the rank axis."""
    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), "l_linenumber"
    )
    gold = (
        li.withColumn("rank", F.row_number().over(w))
        .where(F.col("l_linenumber") == 1)
        .select("l_orderkey", "rank")
    )
    # total folds into the plan as a broadcast 1-row agg (no driver-side
    # count() that would re-execute the ranking window as a separate job)
    total = gold.agg(F.count("*").cast("double").alias("_tot"))
    counts = gold.groupBy("rank").agg(F.count("*").alias("n"))
    cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return counts.crossJoin(F.broadcast(total)).select(
        F.col("rank").cast("long").alias("rank"),
        "n",
        F.round(F.sum("n").over(cum) / F.col("_tot"), 6).alias("cum_recall"),
    )


SQL_EVAL01 = """
WITH gold AS (
  SELECT l_orderkey,
    row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_extendedprice DESC, l_linenumber) AS rank
  FROM lineitem QUALIFY l_linenumber = 1
),
counts AS (SELECT rank, count(*) AS n FROM gold GROUP BY 1)
SELECT CAST(rank AS BIGINT) AS rank, n,
  round(sum(n) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        / (SELECT CAST(count(*) AS DOUBLE) FROM gold), 6) AS cum_recall
FROM counts
"""


# --------------------------------------------------------------------------
# round-2 widening: OR-amplified ANN (J7 recall amplification), incoming-link
# counts (A1), BM25-style scored sparse retrieval (J8's scoring half)
# --------------------------------------------------------------------------

# OR-amplified ANN config: 16 independent 4-plane tables. Tuned on the
# driver's embeddings table, whose vectors are near-uniform random (true
# top-5 neighbors sit at median cosine 0.37): p(plane agrees) ~ 0.63, so
# per-table hit prob is p^4 ~ 0.16 and 16 tables give recall
# 1-(1-p^4)^16 ~ 0.94 (measured 0.91 at sf0.1). On such data LSH pruning is
# information-theoretically limited (candidates ~ 63% of the cross join);
# on real embedding corpora (near-dups at cosine >= 0.9, p >= 0.86) the SAME
# machinery prunes to a tiny fraction — the recall/cost knob is (planes,
# tables), and bench.py records the measured recall each round.
ANN_PLANES = 4
ANN_TABLE_SEEDS = tuple(1000 * t + 7 for t in range(16))
LINK_MIN_TOKEN_LEN = 4
BM25_NQUERY = 20
BM25_QTOKENS = 8
BM25_K = 5


def _rerank(v: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact re-rank of LSH candidates (qid, nid): re-join both vectors from
    the embeddings table `v`, score by cosine, keep the top ANN_K."""
    qv = v.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    nv = v.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"))
    scored = cand.join(qv, "qid").join(nv, "nid").select(
        "qid",
        "nid",
        emb.cosine_similarity(F.col("qv"), F.col("nv")).alias("cos"),
    )
    return _top_by_cos(scored, ANN_K)


def ann05_multitable_lsh(spark, sf_dir):
    """OR-amplified ANN (the reference's flat-vs-HNSW recall trade,
    `blink/indexer/faiss_indexer.py:71-141`): 16 INDEPENDENT 4-plane
    hyperplane tables; a pair is a candidate if ANY table buckets it
    together — miss prob drops from (1-p^4) to (1-p^4)^16, p = 1 - theta/pi.
    Union'd candidates are exactly re-ranked by cosine, top-5 per query.
    bench.py measures recall@5 of ann03 (single-table) and ann05 vs the
    exact ann01 baseline and records both in BASELINE.md (see the
    ANN_PLANES note above for the tuning math on this corpus)."""
    v = T(spark, sf_dir, "embeddings")
    # all 16 table buckets in ONE vectorized pandas UDF (r5): the 16-table
    # Column form was a ~4k-literal expression tree — per-BUILD Catalyst
    # analysis dominated the measured wall (7.7s bench median vs 2.1s warm
    # execution), and the dots ran interpreted. Same bucket ids (sign
    # parity pinned by the oracle hash check); the index side still carries
    # 16 keys/vector — ann07 is the 4-key variant.
    bk16 = emb.hyperplane_buckets_udf(ANN_PLANES, EMB_DIM, ANN_TABLE_SEEDS)
    keyed = v.select(
        "vec_id", F.posexplode(bk16(F.col("embedding"))).alias("t", "bucket")
    ).select(
        "vec_id",
        F.concat_ws(
            "_", F.col("t").cast("string"), F.col("bucket").cast("string")
        ).alias("bk"),
    )
    q = keyed.where(F.col("vec_id") < ANN_NQUERY).select(
        F.col("vec_id").alias("qid"), "bk"
    )
    c = keyed.select(F.col("vec_id").alias("nid"), "bk")
    cand = (
        q.join(c, "bk")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    return _rerank(v, cand)


def _sql_ann05():
    bks = ", ".join(
        f"'{t}_' || CAST({osql.sql_hyperplane_bucket('embedding', emb._hyperplanes(ANN_PLANES, EMB_DIM, seed=s))} AS VARCHAR)"
        for t, s in enumerate(ANN_TABLE_SEEDS)
    )
    cos = osql.sql_cosine("qe.embedding", "ne.embedding")
    return f"""
WITH k AS (SELECT vec_id, unnest([{bks}]) AS bk FROM embeddings),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
  FROM k q JOIN k c ON q.bk = c.bk AND q.vec_id != c.vec_id
  WHERE q.vec_id < {ANN_NQUERY}
),
scored AS (
  SELECT qid, nid, {cos} AS cos
  FROM cand JOIN embeddings qe ON qe.vec_id = qid
            JOIN embeddings ne ON ne.vec_id = nid
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cos FROM ranked WHERE rank <= {ANN_K}
"""


# ann07 config: multi-probe at ann05's geometry (VERDICT r3 #5) — 4 of the
# 16 ann05 tables, each probed at Hamming distance <= 1 (own bucket + 4
# one-bit flips). Per-table hit prob rises from p^4 ~ 0.16 to
# p^4 + 4p^3(1-p) ~ 0.53 (p ~ 0.63 on this corpus), so 4 probed tables
# reach 1-(1-0.53)^4 ~ 0.95 expected recall — ann05's 16-table recall at a
# quarter of the candidate-side keying/explode cost (the probe explosion is
# query-side only, and queries are ANN_NQUERY rows).
ANN07_TABLE_SEEDS = ANN_TABLE_SEEDS[:4]
ANN07_PROBE_MASKS = (0, 1, 2, 4, 8)


def ann07_multiprobe_tables(spark, sf_dir):
    """Multi-probe OR-amplified ANN: 4 independent 4-plane tables, each
    probed at Hamming <= 1 on the query side (Lv et al., VLDB'07 multi-probe
    x the reference's multi-index amplification, `blink/indexer/
    faiss_indexer.py:71-141`). Candidates are the union over (table, probe)
    bucket matches, deduped, then exactly re-ranked by cosine top-ANN_K.
    Same output contract as ann05; the cost moves off the CANDIDATE side
    (4 keys/vector instead of 16 — the big exploded frame) onto the tiny
    query side (20 probes/query)."""
    v = T(spark, sf_dir, "embeddings")
    # one vectorized bucket UDF for the 4 tables (see ann05 r5 note); the
    # probe explosion stays query-side Column arithmetic over the tiny
    # query set
    bk4 = emb.hyperplane_buckets_udf(ANN_PLANES, EMB_DIM, ANN07_TABLE_SEEDS)
    keyed = lambda df: df.select(  # noqa: E731
        "vec_id", F.posexplode(bk4(F.col("embedding"))).alias("t", "bucket")
    )
    q = (
        keyed(v.where(F.col("vec_id") < ANN_NQUERY))
        .select(
            F.col("vec_id").alias("qid"),
            "t",
            F.explode(
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(m))
                        for m in ANN07_PROBE_MASKS
                    ]
                )
            ).alias("bucket"),
        )
        .select(
            "qid",
            F.concat_ws(
                "_", F.col("t").cast("string"), F.col("bucket").cast("string")
            ).alias("bk"),
        )
    )
    c = keyed(v).select(
        F.col("vec_id").alias("nid"),
        F.concat_ws(
            "_", F.col("t").cast("string"), F.col("bucket").cast("string")
        ).alias("bk"),
    )
    cand = (
        q.join(c, "bk")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    return _rerank(v, cand)


def _sql_ann07():
    def bkt(s):
        return osql.sql_hyperplane_bucket(
            "embedding", emb._hyperplanes(ANN_PLANES, EMB_DIM, seed=s)
        )

    cand_keys = ", ".join(
        f"'{t}_' || CAST({bkt(s)} AS VARCHAR)"
        for t, s in enumerate(ANN07_TABLE_SEEDS)
    )
    probe_keys = ", ".join(
        f"'{t}_' || CAST(xor({bkt(s)}, {m}) AS VARCHAR)"
        for t, s in enumerate(ANN07_TABLE_SEEDS)
        for m in ANN07_PROBE_MASKS
    )
    cos = osql.sql_cosine("qe.embedding", "ne.embedding")
    return f"""
WITH ck AS (SELECT vec_id, unnest([{cand_keys}]) AS bk FROM embeddings),
qk AS (SELECT vec_id, unnest([{probe_keys}]) AS bk FROM embeddings
       WHERE vec_id < {ANN_NQUERY}),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
  FROM qk q JOIN ck c ON q.bk = c.bk AND q.vec_id != c.vec_id
),
scored AS (
  SELECT qid, nid, {cos} AS cos
  FROM cand JOIN embeddings qe ON qe.vec_id = qid
            JOIN embeddings ne ON ne.vec_id = nid
),
ranked AS (
  SELECT qid, nid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cos FROM ranked WHERE rank <= {ANN_K}
"""


def _link_toks():
    """Outgoing-'link' list of a document: its distinct >=4-char tokens
    (standing in for linked page titles — same explode->count shape)."""
    return F.array_distinct(
        F.filter(
            tx.tokens(F.col("text")),
            lambda t: F.length(t) >= LINK_MIN_TOKEN_LEN,
        )
    )


def linkcount01_incoming(spark, sf_dir):
    """A1 incoming-link group-count with the reference's two-source union +
    second-chance key normalization (`blink/candidate_retrieval/
    enrich_data.py:79-134`: wikipedia + wikidata link lists are unioned and
    missing keys retried under different capitalization): explode each doc's
    outgoing-link list; the second source (doc_id % 3 == 0) emits
    Capitalized variants; keys normalize by lower(trim(...)); count incoming
    links + distinct source docs per target."""
    d = T(spark, sf_dir, "documents")
    wiki = d.select("doc_id", F.explode(_link_toks()).alias("tgt"))
    data = d.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.explode(_link_toks()).alias("tgt")
    ).select(
        "doc_id",
        F.concat(
            F.upper(F.substring(F.col("tgt"), 1, 1)), F.expr("substring(tgt, 2)")
        ).alias("tgt"),
    )
    u = wiki.unionByName(data).select(
        F.lower(F.trim(F.col("tgt"))).alias("target"), "doc_id"
    )
    return u.groupBy("target").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def _sql_link_union():
    toks = (
        f"list_distinct(list_filter({osql.sql_tokens('text')},"
        f" t -> len(t) >= {LINK_MIN_TOKEN_LEN}))"
    )
    return f"""
SELECT lower(trim(tgt)) AS target, doc_id FROM (
  SELECT doc_id, unnest({toks}) AS tgt FROM documents
  UNION ALL
  SELECT doc_id, upper(substr(tgt, 1, 1)) || substr(tgt, 2) AS tgt
  FROM (SELECT doc_id, unnest({toks}) AS tgt FROM documents WHERE doc_id % 3 = 0)
)"""


def _sql_linkcount01():
    return f"""
WITH u AS ({_sql_link_union()})
SELECT target, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
FROM u GROUP BY 1
"""


def bm25_01_scored_retrieval(spark, sf_dir):
    """J8's scoring half — the reference's ranked edismax retrieval
    (`blink/main_solr.py:126-143`: `title:({m}) OR ...` with
    boost=log(sum(num_incoming_links,1)); `blink/candidate_generation.py:
    68-115`; `candidate_retrieval/candidate_generators.py:59-116`)
    re-expressed as the distributed inverted-index join:

      * idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1) (BM25 idf) from the
        exploded token table;
      * query = first 8 distinct tokens of each doc_id < 20 document;
      * pair score = sum of shared-token idf — summed as DECIMAL(18,6) so
        the result is exact and addition-order independent (double sums
        differ across engines/partitionings);
      * + 0.5 * ln(1 + incoming_links(doc)) link boost, links from
        linkcount01 joined on the doc 'title' (its first >=4-char token) —
        additive composition of the reference's multiplicative edismax boost;
      * per-query top-5 by (score desc, did).
    """
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tx.tokens(F.col("text")))).alias("tok")
    )
    n_docs = d.agg(F.count("*").cast("double").alias("_n"))
    idf = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.round(
                F.log((F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
                6,
            ).cast("decimal(18,6)").alias("idf"),
        )
    )
    qtok = d.where(F.col("doc_id") < BM25_NQUERY).select(
        F.col("doc_id").alias("qid"),
        F.explode(
            F.array_distinct(F.slice(tx.tokens(F.col("text")), 1, BM25_QTOKENS))
        ).alias("tok"),
    )
    links = linkcount01_incoming(spark, sf_dir)
    titles = d.select("doc_id", F.get(_link_toks(), 0).alias("title"))
    boosts = (
        titles.join(links, titles.title == links.target, "left")
        .select("doc_id", F.coalesce(F.col("n_links"), F.lit(0)).alias("inl"))
    )
    pairs = qtok.join(toks.withColumnRenamed("doc_id", "did"), "tok").where(
        F.col("qid") != F.col("did")
    )
    s = pairs.join(idf, "tok").groupBy("qid", "did").agg(F.sum("idf").alias("s_idf"))
    scored = s.join(boosts.withColumnRenamed("doc_id", "did"), "did").select(
        "qid",
        "did",
        F.round(
            F.col("s_idf").cast("double")
            + F.lit(0.5) * F.log(F.lit(1.0) + F.col("inl")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "did")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= BM25_K)
        .select("qid", "did", "rank", "score")
    )


def _sql_bm25_01():
    all_toks = f"list_distinct({osql.sql_tokens('text')})"
    q_toks = f"list_distinct(list_slice({osql.sql_tokens('text')}, 1, {BM25_QTOKENS}))"
    title = (
        f"(list_filter({osql.sql_tokens('text')},"
        f" t -> len(t) >= {LINK_MIN_TOKEN_LEN}))[1]"
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest({all_toks}) AS tok FROM documents),
n AS (SELECT CAST(count(*) AS DOUBLE) AS _n FROM documents),
idf AS (
  SELECT tok, CAST(round(ln((_n - df + 0.5) / (df + 0.5) + 1.0), 6)
              AS DECIMAL(18,6)) AS idf
  FROM (SELECT tok, count(*) AS df FROM toks GROUP BY 1), n
),
qtok AS (
  SELECT doc_id AS qid, unnest({q_toks}) AS tok
  FROM documents WHERE doc_id < {BM25_NQUERY}
),
u AS ({_sql_link_union()}),
links AS (SELECT target, count(*) AS n_links FROM u GROUP BY 1),
titles AS (SELECT doc_id, {title} AS title FROM documents),
boosts AS (
  SELECT t.doc_id, coalesce(l.n_links, 0) AS inl
  FROM titles t LEFT JOIN links l ON t.title = l.target
),
s AS (
  SELECT qid, t.doc_id AS did, sum(i.idf) AS s_idf
  FROM qtok q JOIN toks t ON q.tok = t.tok AND q.qid != t.doc_id
  JOIN idf i ON i.tok = q.tok
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, did,
    round(CAST(s_idf AS DOUBLE) + 0.5 * ln(1 + inl), 6) AS score
  FROM s JOIN boosts b ON b.doc_id = did
),
ranked AS (
  SELECT qid, did, score,
    row_number() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rank
  FROM scored
)
SELECT qid, did, CAST(rank AS BIGINT) AS rank, score FROM ranked
WHERE rank <= {BM25_K}
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


def build_registry() -> tuple[
    dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]
]:
    dedup01_sql = f"""
SELECT doc_id,
  count(*) OVER (PARTITION BY tkey) > 1 AS is_dup,
  doc_id = min(doc_id) OVER (PARTITION BY tkey) AS keep
FROM (SELECT doc_id,
        concat_ws('_', CAST({osql.sql_poly_hash(osql.sql_norm('text'))} AS VARCHAR),
                  CAST(len({osql.sql_norm('text')}) AS VARCHAR)) AS tkey
      FROM documents)
"""
    queries = {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_dim_join_rollup": q02_dim_join_rollup,
        "q03_topk_per_group": q03_topk_per_group,
        "q04_anti_join": q04_anti_join,
        "q05_semi_join": q05_semi_join,
        "q06_fallback_join": q06_fallback_join,
        "q07_conditional_agg": q07_conditional_agg,
        "q08_cumulative_window": q08_cumulative_window,
        "q09_stable_ids": q09_stable_ids,
        "q10_sort_limit": q10_sort_limit,
        "q11_setops": q11_setops,
        "q12_regex_extract": q12_regex_extract,
        "q13_normalize_keys": q13_normalize_keys,
        "q14_grouping_rollup": q14_grouping_rollup,
        "q15_macro_micro": q15_macro_micro,
        "q16_gold_rank": q16_gold_rank,
        "q17_join_residual": q17_join_residual,
        "eval01_recall_curve": eval01_recall_curve,
        "text01_quality": text01_quality,
        "text02_langid": text02_langid,
        "text03_fingerprint": text03_fingerprint,
        "text04_token_counts": text04_token_counts,
        "text05_truncate": text05_truncate,
        "dedup01_exact": dedup01_exact,
        "dedup02_ngram_jaccard": dedup02_ngram_jaccard,
        "dedup03_minhash_lsh": dedup03_minhash_lsh,
        "dedup04_simhash": dedup04_simhash,
        "dedup05_simhash_pairs": dedup05_simhash_pairs,
        "dedup06_embedding_cosine": dedup06_embedding_cosine,
        "ann01_cosine_topk": ann01_cosine_topk,
        "ann02_hyperplane_bucket": ann02_hyperplane_bucket,
        "ann03_lsh_topk": ann03_lsh_topk,
        "ann04_block_matmul": ann04_block_matmul,
        "ann05_multitable_lsh": ann05_multitable_lsh,
        "ann06_multiprobe_lsh": ann06_multiprobe_lsh,
        "ann07_multiprobe_tables": ann07_multiprobe_tables,
        "linkcount01_incoming": linkcount01_incoming,
        "bm25_01_scored_retrieval": bm25_01_scored_retrieval,
        "multimodal01_metadata": multimodal01_metadata,
        "er01_mentions": er01_mentions,
        "er02_candidate_pairs": er02_candidate_pairs,
        "er03_scored_pairs": er03_scored_pairs,
        "er04_clusters": er04_clusters,
        "er05_incremental_clusters": er05_incremental_clusters,
        "er06_cluster_drift": er06_cluster_drift,
        "er07_append_upsert": er07_append_upsert,
        "er08_golden_record": er08_golden_record,
        "er09_blocking_quality": er09_blocking_quality,
    }
    oracles = {
        "q01_pricing_summary": SQL_Q01,
        "q02_dim_join_rollup": SQL_Q02,
        "q03_topk_per_group": SQL_Q03,
        "q04_anti_join": SQL_Q04,
        "q05_semi_join": SQL_Q05,
        "q06_fallback_join": SQL_Q06,
        "q07_conditional_agg": SQL_Q07,
        "q08_cumulative_window": SQL_Q08,
        "q09_stable_ids": SQL_Q09,
        "q10_sort_limit": SQL_Q10,
        "q11_setops": SQL_Q11,
        "q12_regex_extract": SQL_Q12,
        "q13_normalize_keys": SQL_Q13,
        "q14_grouping_rollup": SQL_Q14,
        "q15_macro_micro": SQL_Q15,
        "q16_gold_rank": SQL_Q16,
        "q17_join_residual": SQL_Q17,
        "eval01_recall_curve": SQL_EVAL01,
        "text01_quality": _sql_text01(),
        "text02_langid": _sql_text02(),
        "text03_fingerprint": _sql_text03(),
        "text04_token_counts": _sql_text04(),
        "text05_truncate": _sql_text05(),
        "dedup01_exact": dedup01_sql,
        "dedup02_ngram_jaccard": _sql_dedup02(),
        "dedup03_minhash_lsh": _sql_dedup02(),  # LSH must reproduce exact
        "dedup04_simhash": _sql_dedup04(),
        "dedup05_simhash_pairs": _sql_dedup05(),
        "dedup06_embedding_cosine": _sql_dedup06(),
        "ann01_cosine_topk": _sql_ann01(),
        "ann02_hyperplane_bucket": _sql_ann02(),
        "ann03_lsh_topk": _sql_ann03(),
        "ann04_block_matmul": _sql_ann03(),  # must equal the JVM-side ann03
        "ann05_multitable_lsh": _sql_ann05(),
        "ann06_multiprobe_lsh": _sql_ann06(),
        "ann07_multiprobe_tables": _sql_ann07(),
        "linkcount01_incoming": _sql_linkcount01(),
        "bm25_01_scored_retrieval": _sql_bm25_01(),
        "multimodal01_metadata": _sql_multimodal01(),
        "er01_mentions": _sql_er01(),
        "er02_candidate_pairs": _sql_er02(),
        "er03_scored_pairs": _sql_er03(),
        "er04_clusters": _sql_er04(),
        "er05_incremental_clusters": _sql_er05(),
        "er06_cluster_drift": _sql_er06(),
        "er07_append_upsert": _sql_er07(),
        "er08_golden_record": _sql_er08(),
        "er09_blocking_quality": _sql_er09(),
    }
    return queries, oracles
