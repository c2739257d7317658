"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each with a DuckDB oracle twin where SQL-expressible.

Determinism rules for oracle parity:
- money aggregates go through decimal casts (exact, order-independent)
  then back to double;
- every float output is round(x, 6);
- every result set has a deterministic total order available via its
  key columns (the driver sorts before hashing).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import oracle_sql_gen
from .functions import dates, langid, quality, rules, scrub, textnorm, tokens
from .operators import dedup, similarity, stats

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _t(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread: bool = False,
    pin: bool = False,
) -> DataFrame:
    # Round 9 (guide §2.5 "input skew: one huge unsplittable file"):
    # every sf-tier table ships as ONE parquet file, and every tier up
    # to sf1.0 is under 64 MB — below the 32 MB split size. That means
    # ONE scan task, so an expensive narrow projection over documents/
    # embeddings ran single-core regardless of the session's 32 slots
    # (measured: scrub_docs 16.5s -> 1.1s at sf1.0 once spread).
    # spread=True applies the guarded _spread_small_scan — opt-IN per
    # entry, because a blanket spread was measured to HURT queries whose
    # first move is a shuffle anyway (events windows/aggregations lost
    # 0.3-1.2s each paying a pointless extra round-robin exchange).
    # The guard keeps it scale-honest: at production scale (thousands
    # of splits) the spread is a metadata-only no-op.
    # pin=True (round 9, only meaningful with spread): localCheckpoint
    # the spread scan WHEN THE GUARD FIRED. Two reasons, both measured
    # on the multi-pass ANN entries (train + serve read the table 3-4
    # times): (a) each pass re-paid the single-task scan, (b) worse,
    # PushDownPredicates moves selective filters (IVF cell probes, LSH
    # bit pruning) BELOW the round-robin spread, so the expensive
    # pruning predicate ran single-core no matter what (ivf_topk 2.8s
    # -> 1.5s, ann_lsh 1.2s -> 0.5s at sf1.0). A checkpointed RDD is a
    # pushdown barrier and is partitioned by the spread. Guarded like
    # the spread itself: at production scale the guard does not fire
    # and no checkpoint happens — pinning a 100 TB table would be the
    # bug, a <64 MB one is the same budget as any broadcast dim.
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        out = _spread_small_scan(df, spark)
        if pin and out is not df:
            out = out.localCheckpoint()
        return out
    return df


def _spread_small_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """A one-file parquet table with a single row group cannot be split
    by maxPartitionBytes, so an expensive projection over it runs in
    ONE task no matter how many cores the session has — measured on
    the round-7 sf1 docs run: winnow over the 32-file 50k-doc corpus
    beat the SAME query over the 1-file 5k-doc table (3.78s vs 5.5s),
    and spreading the small scan takes the 5k tier to 0.67s (8x).
    Guard keeps it scale-honest: repartition ONLY when the scan has
    fewer input files than the session parallelism AND the table is
    tiny (<64 MB local) — at production scale the scan has thousands
    of splits and this is a metadata-only no-op, and a big single file
    splits by row groups on its own."""
    par = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= par:
        return df
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return df  # remote store: no cheap size check, leave as-is
        try:
            total += os.path.getsize(f.removeprefix("file:"))
        except OSError:
            return df
    if total >= 64 * 1024 * 1024:
        return df
    return df.repartition(par)


def query(name: str, sql: str | None = None):
    def deco(fn):
        Q[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


DEC = "decimal(18,2)"

# ---------------------------------------------------------------------------
# TPC-H-shaped relational coverage (generic agg/join/anti-join/top-k)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS decimal(18,2)) * (1 - CAST(l_discount AS decimal(18,2)))) AS double) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark, sf_dir):
    """Map-side partial aggregation; shuffle carries 6ish groups."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
        F.sum(
            F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
        )
        .cast("double")
        .alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS decimal(18,2)) * CAST(l_discount AS decimal(18,2))) AS double) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6(spark, sf_dir):
    """Filter pushdown demo: predicates reach the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount").between(0.05, 0.07)) & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "broadcast_join_nation",
    """
    SELECT n.n_name AS nation, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS decimal(18,2))) AS double) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def broadcast_join_nation(spark, sf_dir):
    """J1-J5 shape: small-dim broadcast equi-join (no shuffle on the
    fact side; explain shows BroadcastHashJoin)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("total_acctbal"),
        )
    )


@query(
    "anti_join_resume",
    """
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o
    WHERE o.o_custkey NOT IN (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ) AND o.o_orderkey % 100 < 5
    """,
)
def anti_join_resume(spark, sf_dir):
    """J6: the seen-set/left-anti resume join
    (/root/reference/spider_news.go:15,162-167 made durable)."""
    o = _t(spark, sf_dir, "orders")
    seen = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        o.filter(F.col("o_orderkey") % 100 < 5)
        .join(F.broadcast(seen), o.o_custkey == seen.c_custkey, "left_anti")
        .select("o_orderkey", "o_custkey")
    )


@query(
    "maxby_longest_doc",
    """
    SELECT d.source, m.max_chars, MAX(d.doc_id) AS kept_doc_id
    FROM documents d
    JOIN (SELECT source, MAX(n_chars) AS max_chars FROM documents GROUP BY source) m
      ON d.source = m.source AND d.n_chars = m.max_chars
    GROUP BY d.source, m.max_chars
    """,
)
def maxby_longest_doc(spark, sf_dir):
    """J7 longest-wins merge (/root/reference/extract/web.go:213-219):
    max_by with deterministic (length, id) tie-break via struct max."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(F.max(F.struct(F.col("n_chars"), F.col("doc_id"))).alias("m"))
        .select(
            "source",
            F.col("m.n_chars").alias("max_chars"),
            F.col("m.doc_id").alias("kept_doc_id"),
        )
    )


@query(
    "events_topk_window",
    """
    SELECT user_id, event_id, rk FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
        FROM events
    ) WHERE rk <= 2 AND user_id % 50 = 0
    """,
)
def events_topk_window(spark, sf_dir):
    """T3 top-k per group (rank window with deterministic tie-break)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 2) & (F.col("user_id") % 50 == 0))
        .select("user_id", "event_id", "rk")
    )


@query(
    "events_hourly_rollup",
    """
    SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS decimal(18,2))) AS double) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark, sf_dir):
    """Event-time windowed aggregation (the batch twin of the Structured
    Streaming hourly rollup; same plan shape as window('1 hour'))."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )


@query(
    "events_two_pass_stats",
    """
    SELECT e.event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN e.value > m.mean_value THEN 1 ELSE 0 END) AS BIGINT) AS n_above_mean
    FROM events e
    JOIN (SELECT event_type, ROUND(AVG(value), 6) AS mean_value FROM events GROUP BY event_type) m
      ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def events_two_pass_stats(spark, sf_dir):
    """A5/A6 two-pass shape (/root/reference/extract/link.go:155-253):
    per-group statistic broadcast-rejoined to per-row decisions. The
    mean is rounded to 6 BEFORE the per-row compare — double sums are
    order-dependent across engines, so an unrounded mean flips rows
    within an ulp of it (repo determinism rule applied one step
    earlier than the output)."""
    e = _t(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("mean_value"))
    return (
        e.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") > F.col("mean_value")).cast("long")).alias(
                "n_above_mean"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Reference cascade queries over documents (transcript stand-in corpus)
# ---------------------------------------------------------------------------

# the clean_for_lang chain in DuckDB RE2 dialect (tests pin parity)
_DUCK_CLEAN = (
    "trim(substr(regexp_replace(replace(replace("
    "regexp_replace(text, '[\\r\\n]+', ' ', 'g')"
    ", chr(9), ''), '  ', ''), '[\\pP\\pS]', '', 'g'), 1, 2048))"
)


@query(
    "lang_rules_docs",
    f"""
    SELECT doc_id,
      CASE
        WHEN length({_DUCK_CLEAN}) < 64 THEN NULL
        WHEN length(regexp_replace({_DUCK_CLEAN}, '[^\\p{{Han}}]', '', 'g')) > 0
             AND length(regexp_replace({_DUCK_CLEAN}, '[^\\p{{Han}}]', '', 'g'))
                 >= 0.3 * length({_DUCK_CLEAN}) THEN
          CASE WHEN length(regexp_replace({_DUCK_CLEAN}, '[^\\p{{Hiragana}}\\p{{Katakana}}]', '', 'g')) >
                    0.1 * length(regexp_replace({_DUCK_CLEAN}, '[^\\p{{Han}}]', '', 'g'))
               THEN 'ja' ELSE 'zh' END
        WHEN length(regexp_replace({_DUCK_CLEAN}, '[^a-zA-Z]', '', 'g')) > 0.618 * length({_DUCK_CLEAN}) THEN
          CASE WHEN length(regexp_replace({_DUCK_CLEAN}, '[^\\x80-\\xff]', '', 'g')) > 5
               THEN 'model_latin' ELSE 'en' END
        ELSE 'model_other'
      END AS lang_rule
    FROM documents
    """,
)
def lang_rules_docs(spark, sf_dir):
    """A1: the char-class threshold cascade (cheap branches only,
    /root/reference/lang.go:274-345) with model handoffs surfaced as
    'model_latin'/'model_other'."""
    from .functions.expr_utils import let_col

    d = _t(spark, sf_dir, "documents", spread=True)
    # let-bound: the marker remap references the rule result 3x, which
    # would re-embed the whole char-class cascade per reference
    lang_rule = let_col(
        langid.body_lang_rules(F.col("text"))["lang"],
        lambda r: (
            F.when(r == langid.NEEDS_MODEL_LATIN, "model_latin")
            .when(r == langid.NEEDS_MODEL_OTHER, "model_other")
            .otherwise(r)
        ),
    )
    return d.select("doc_id", lang_rule.alias("lang_rule"))


@query(
    "keep_drop_docs",
    f"""
    SELECT doc_id,
      CASE
        WHEN length(trim(text)) = 0 THEN 'empty_transcript'
        WHEN length(text) < 64 THEN 'too_short'
        WHEN length(text) - length(replace(text, '{{', '')) >= 5
         AND length(text) - length(replace(text, '}}', '')) >= 5 THEN 'dynamic_render_junk'
        WHEN regexp_matches(text, '(经营|制作|信息服务|出版|出版服务|演出|视听节目|新闻|视听|新网)许可证') THEN 'licence_boilerplate'
        ELSE
          CASE
            WHEN lang = 'zh' THEN
              CASE
                WHEN length(regexp_replace(trim(text), '[^\\p{{Han}}]', '', 'g')) > 5 THEN
                  CASE WHEN length(replace(trim(text), ' ', '')) >= 8 THEN NULL
                       WHEN regexp_matches(replace(trim(text), ' ', ''), '[，。；：？！（）“”]') THEN NULL
                       ELSE 'class_unknown' END
                WHEN length(regexp_replace(trim(text), '[^\\p{{Han}}]', '', 'g')) > 0 THEN 'class_list'
                WHEN lower(trim(text)) IN ('nba','cba','5g','ai','it','ipo') THEN 'class_list'
                ELSE 'class_none'
              END
            WHEN lang IN ('en','ru','ar','de','fr','es','pt') THEN
              CASE
                WHEN length(regexp_replace(regexp_replace(trim(text), '\\pP', '', 'g'), '[^a-zA-Z]', '', 'g')) > 0 THEN
                  CASE WHEN len(list_filter(string_split(trim(regexp_replace(trim(text), '\\pP', '', 'g')), ' '), x -> x != '')) >= 5
                       THEN NULL ELSE 'class_list' END
                ELSE 'class_none'
              END
            ELSE
              CASE WHEN length(regexp_replace(trim(text), '\\pP', '', 'g')) >= 8 THEN NULL ELSE 'class_list' END
          END
      END AS drop_reason
    FROM documents
    """,
)
def keep_drop_docs(spark, sf_dir):
    """The full keep/drop rule chain (P3/P5/P7/P8 + link.go:276-364
    classification) over documents, lang from the label column."""
    d = _t(spark, sf_dir, "documents", spread=True)
    kd = rules.keep_drop(F.col("text"), F.col("lang"), min_chars=64)
    return d.select("doc_id", kd["drop_reason"].alias("drop_reason"))


@query(
    "scrub_docs",
    f"SELECT doc_id, {scrub.oracle_scrub_sql('text')} AS scrubbed FROM documents",
)
def scrub_docs(spark, sf_dir):
    """F10/F14 scrub bank parity over the whole corpus."""
    d = _t(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", scrub.scrub(F.col("text")).alias("scrubbed"))


@query(
    "token_stats_docs",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[^ \\t\\n]+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^\\s A-Za-z0-9]')) AS bpe_tokens,
           round(CASE WHEN len(regexp_extract_all(lower(trim(text)), '\\S+')) > 0
                 THEN len(list_filter(regexp_extract_all(lower(trim(text)), '\\S+'),
                          x -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','be','this','that'], x)))
                      * 1.0 / len(regexp_extract_all(lower(trim(text)), '\\S+'))
                 ELSE 0.0 END, 6) AS stop_ratio
    FROM documents
    """,
)
def token_stats_docs(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) + stopword ratio."""
    d = _t(spark, sf_dir, "documents", spread=True)
    return d.select(
        "doc_id",
        tokens.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]{1,3}|[^\sA-Za-z0-9]")).alias(
            "bpe_tokens"
        ),
        tokens.stopword_ratio(F.col("text")).alias("stop_ratio"),
    )


@query(
    "dedup_exact_docs",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_md5,
           MIN(doc_id) AS kept_id, COUNT(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup: hash-groupBy keep-first (J6/U2 made columnar)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "text", "doc_id")


@query(
    "ngram_jaccard_pairs_docs",
    """
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), x -> x != '')) - 2, 0) + 1),
               i -> array_to_string(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), x -> x != '')[i:i+2], ' ')
             )) AS grams
      FROM documents WHERE source IN ('src6', 'src7')
    )
    SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.grams, b.grams)) * 1.0 /
                 len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
      AND len(list_intersect(a.grams, b.grams)) * 1.0 /
          len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3
    """,
)
def ngram_jaccard_pairs_docs(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs within source groups. The
    all-pairs form is O(group^2) BY CONTRACT (bounded candidate groups
    only — minhash_lsh is the unbounded-scale path), so the entry scopes
    to two source groups (src6/src7 carry planted near-dup pairs at
    both gate tiers): parity coverage without quadratic bench cost
    (unscoped at sf0.1: 55s of genuine 625k-pair array math)."""
    d = _t(spark, sf_dir, "documents", spread=True).filter(F.col("source").isin("src6", "src7"))
    return dedup.ngram_jaccard_pairs(d, "text", "doc_id", "source", threshold=0.3)


def ngram_cap_parity_guard(spark, sf_dir) -> dict[str, int]:
    """Gate-side replica of the ngram group cap's drop accounting
    (ADVICE r7: the DuckDB oracle does NOT model the max_group_size
    cap, so parity holds only while headroom exists — this guard makes
    a corpus that crosses the cap FAIL the gate loudly instead of
    quietly diverging). Re-runs the entry's exact frame with a held
    Observation and returns the observed metrics; the caller
    (tools/check_oracles.py) fails when dropped_members > 0."""
    from pyspark.sql import Observation

    obs = Observation()
    d = _t(spark, sf_dir, "documents", spread=True).filter(F.col("source").isin("src6", "src7"))
    dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", "source", threshold=0.3, observation=obs
    ).count()
    return {k: int(v) for k, v in obs.get.items()}


@query("minhash_lsh_docs", oracle_sql_gen.minhash_lsh_sql())
def minhash_lsh_docs(spark, sf_dir):
    """MinHash+LSH near-dup candidates (banded signatures). Hard-gate
    oracle: signatures derive from md5_number_upper-compatible hashes +
    HUGEINT affine permutations, band grouping by the raw slice string
    (equality-equivalent to Spark's xxhash64 of it)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_lsh_candidates(d, "text", "doc_id").filter(
        F.col("jaccard") >= 0.3
    )


@query("simhash_docs", oracle_sql_gen.simhash_sql())
def simhash_docs(spark, sf_dir):
    """64-bit SimHash fingerprints (Charikar) per document, oracle-exact
    (md5-derived token hashes, 64 generated majority-vote terms)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", dedup.simhash64(F.col("text")).alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------


def _query_vec(dim: int) -> list[float]:
    # deterministic unit-ish query: alternating decaying components
    return [((-1.0) ** i) * (1.0 / (1.0 + i)) for i in range(dim)]


def _duck_vec(dim: int) -> str:
    return "[" + ", ".join(f"{x!r}" for x in _query_vec(dim)) + "]"


_EMB_DIM = 64  # embeddings.embedding dim in testdata (verified in tests)


@query(
    "ann_topk_embeddings",
    f"""
    SELECT vec_id,
           round(list_cosine_similarity(embedding, {_duck_vec(_EMB_DIM)}), 4) AS cosine_sim
    FROM embeddings
    ORDER BY round(list_cosine_similarity(embedding, {_duck_vec(_EMB_DIM)}), 4) DESC, vec_id
    LIMIT 10
    """,
)
def ann_topk_embeddings(spark, sf_dir):
    """Brute-force cosine top-k baseline (TakeOrderedAndProject)."""
    e = _t(spark, sf_dir, "embeddings")
    q = _query_vec(_EMB_DIM)
    qc = similarity.lit_double_array(q)
    return (
        e.select(
            "vec_id",
            F.round(
                similarity.cosine(
                    F.transform(F.col("embedding"), lambda x: x.cast("double")), qc
                ),
                4,
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.col("vec_id"))
        .limit(10)
    )


@query("ann_lsh_topk_embeddings", oracle_sql_gen.ann_lsh_topk_sql(_query_vec(_EMB_DIM)))
def ann_lsh_topk_embeddings(spark, sf_dir):
    """Hyperplane-LSH pruned ANN top-k (the scale path). Oracle replays
    the seeded plane literals + sign bits + bit_count prune in SQL."""
    e = _t(spark, sf_dir, "embeddings", spread=True, pin=True).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return similarity.lsh_bucketed_topk(
        e, "embedding", "vec_id", _query_vec(_EMB_DIM), round_digits=4
    )


@query("ann_ivf_topk_embeddings", oracle_sql_gen.ann_ivf_topk_sql(_query_vec(_EMB_DIM)))
def ann_ivf_topk_embeddings(spark, sf_dir):
    """IVF ANN with the SQL-reproducible distributed trainer (md5-order
    seed spread + one Lloyd step, rounded means), n_probe cell pruning,
    exact cosine on survivors."""
    e = _t(spark, sf_dir, "embeddings", spread=True, pin=True).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    return similarity.ivf_topk(
        e, "embedding", "vec_id", _query_vec(_EMB_DIM), cents, k=10, n_probe=4,
        round_digits=4,
    )


@query(
    "ann_ivf_batch_topk",
    oracle_sql_gen.ann_ivf_batch_topk_sql(_EMB_DIM, n_queries=3),
)
def ann_ivf_batch_topk(spark, sf_dir):
    """Multi-query IVF ANN (similarity.ivf_topk_batch): the 3
    smallest-id embeddings queried as a BATCH against the same
    SQL-reproducible trained index as ann_ivf_topk_embeddings — probe
    cells broadcast onto the cell-assigned index, one equi-join, one
    per-query top-k window. This is the serving shape
    jobs/run_ann_index.py materializes at scale."""
    e = _t(spark, sf_dir, "embeddings", spread=True, pin=True).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    # NULL vectors excluded BEFORE the first-3-ids selection — the
    # oracle's e CTE never sees them (ADVICE r6 #4)
    queries = (
        e.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    return similarity.ivf_topk_batch(
        e,
        queries,
        "embedding",
        "vec_id",
        "qid",
        cents,
        k=10,
        n_probe=4,
        round_digits=4,
    )


@query(
    "ann_ivf_batch_topk_gemm",
    oracle_sql_gen.ann_ivf_batch_topk_sql(_EMB_DIM, n_queries=3),
)
def ann_ivf_batch_topk_gemm(spark, sf_dir):
    """The GEMM serving scorer (similarity.ivf_topk_batch_gemm) under
    the same oracle as the join scorer — the two are bit-identical by
    the slack-band contract (one numpy matmul per (partition, cell)
    with a local top-k that keeps every candidate within a rounding
    quantum of the kth best, so accumulation-order differences cannot
    change the rounded global top-k). Same trained index, same query
    batch as ann_ivf_batch_topk."""
    e = _t(spark, sf_dir, "embeddings", spread=True, pin=True).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    queries = (
        e.filter(F.col("embedding").isNotNull())  # oracle e-CTE parity
        .orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    return similarity.ivf_topk_batch_gemm(
        e,
        queries,
        "embedding",
        "vec_id",
        "qid",
        cents,
        k=10,
        n_probe=4,
        round_digits=4,
    )


@query(
    "centroid_per_label",
    """
    SELECT label, pos, round(AVG(x), 6) AS mean_x FROM (
      SELECT label, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    ) GROUP BY label, pos
    """,
)
def centroid_per_label_q(spark, sf_dir):
    """Vector aggregation: element-wise mean embedding per label, LONG
    form (label, pos, mean_x) so every output column is a hashable
    scalar (array outputs break the driver's canonicalizer)."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_per_label_long(e, "embedding", "label")


@query(
    "per_group_zscore_docs",
    """
    SELECT d.doc_id,
           round(CASE WHEN m.std > 0 THEN (d.n_chars - m.mean) / m.std ELSE 0.0 END, 6) AS zscore
    FROM documents d
    JOIN (SELECT source, AVG(n_chars) AS mean, STDDEV_POP(n_chars) AS std
          FROM documents GROUP BY source) m
      ON d.source = m.source
    """,
)
def per_group_zscore_docs(spark, sf_dir):
    """Generic two-pass grouped-stat shape: per-source mean/std
    broadcast-rejoined for per-row z-scores."""
    d = _t(spark, sf_dir, "documents")
    return stats.per_group_zscore(d, "source", "n_chars").select("doc_id", "zscore")


@query(
    "minby_nearest_event",
    """
    SELECT user_id, event_id AS nearest_event FROM (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ABS(value - 50.0), event_id) AS rk
      FROM events
    ) WHERE rk = 1 AND user_id % 25 = 0
    """,
)
def minby_nearest_event(spark, sf_dir):
    """A9 nearest-argmin shape (/root/reference/extract/content.go:
    522-541: candidate minimizing a distance) — deterministic min over
    (distance, id) structs, no window shuffle."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("user_id") % 25 == 0)
        .groupBy("user_id")
        .agg(
            F.min(F.struct(F.abs(F.col("value") - 50.0).alias("d"), F.col("event_id"))).alias("m")
        )
        .select("user_id", F.col("m.event_id").alias("nearest_event"))
    )


@query(
    "embedding_neardup_pairs",
    oracle_sql_gen.embedding_neardup_sql(_EMB_DIM, threshold=0.25),
)
def embedding_neardup_pairs_q(spark, sf_dir):
    """Embedding-cosine near-dup pairs via MULTI-BAND hyperplane buckets
    (bucket-collect pair generation, no self-join, no driver action at
    plan build — dim is a parameter)."""
    e = _t(spark, sf_dir, "embeddings", spread=True).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    # random testdata embeddings concentrate near cosine 0 (+-1/sqrt(64));
    # 0.25 yields a small non-empty candidate set at sf0.01
    return similarity.embedding_neardup_pairs(
        e, "embedding", "vec_id", dim=_EMB_DIM, threshold=0.25, round_digits=4
    )


# ---------------------------------------------------------------------------
# Round-2 additions: multi-join top-k, as-of join, winnowing, quantization
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS decimal(18,2)) * (1 - CAST(l.l_discount AS decimal(18,2)))) AS double) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: three-way join (dim filter -> fact -> fact),
    grouped revenue, deterministic top-k (TakeOrderedAndProject after
    the agg — no global sort). Catalyst orders the joins; the customer
    side shrinks to the BUILDING segment before joining."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount").cast(DEC))
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "asof_join_events",
    """
    SELECT p.event_id, p.user_id,
           COALESCE((SELECT c.event_id FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts
            ORDER BY c.ts DESC, c.event_id DESC LIMIT 1), -1) AS last_click_id
    FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id % 20 = 0
    """,
)
def asof_join_events(spark, sf_dir):
    """AS-OF JOIN (an operator Spark lacks natively): each purchase gets
    the user's most recent click at-or-before its timestamp. The oracle
    states the semantics as a correlated subquery; the Spark plan is the
    SCALE-RIGHT union-window form — one shuffle on user_id, no per-row
    probing: tag clicks before purchases at equal ts, then
    last(click_id, ignorenulls) over rows-unbounded-preceding."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("side"),
        F.col("event_id").alias("click_id"), F.lit(None).cast("long").alias("event_id"),
    )
    purchases = e.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0)
    ).select(
        "user_id", "ts", F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("click_id"), "event_id",
    )
    # order within a user: time, then clicks before purchases at equal
    # ts (ts <= p.ts includes same-instant clicks), then event id so the
    # last same-ts click wins (the subquery's ts DESC, event_id DESC)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.coalesce("click_id", "event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        # -1 for no-prior-click: a nullable int column lands in pandas
        # as float64+NaN in the gate's canonicalizer — keep it int-clean
        .select(
            "event_id",
            "user_id",
            F.coalesce("last_click_id", F.lit(-1)).alias("last_click_id"),
        )
    )


_WINNOW_K = 8  # k-gram length
_WINNOW_W = 4  # winnow window (Schleimer et al. 2003, MOSS)
_WINNOW_CAP = 2048


@query(
    "winnow_fingerprints_docs",
    f"""
    WITH t AS (
      SELECT doc_id,
             substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, {_WINNOW_CAP}) AS s
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(s) - {_WINNOW_K - 1}, 0) + 1),
                            i -> md5_number_upper(substr(s, i, {_WINNOW_K}))) AS hs
      FROM t
    )
    SELECT doc_id, CAST(unnest(fps) AS VARCHAR) AS fingerprint FROM (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - {_WINNOW_W - 1} + 1),
                           j -> list_aggregate(hs[j:j+{_WINNOW_W - 1}], 'min'))) AS fps
      FROM g WHERE len(hs) >= {_WINNOW_W}
    )
    """,
)
def winnow_fingerprints_docs(spark, sf_dir):
    """Document fingerprinting by WINNOWING (Schleimer/Wilkerson/Aiken
    2003 — the MOSS algorithm): char 8-gram hashes, minimum per sliding
    window of 4, distinct mins are the doc's fingerprints. Guarantees
    any shared substring >= k+w-1 chars yields a shared fingerprint.
    Pure column math; the 64-bit gram hash is the first 8 md5 bytes
    little-endian, built JVM-side by byte-reversing the md5 hex so it
    equals DuckDB's md5_number_upper. Long-form output (doc_id,
    fingerprint) — fingerprints as strings (20-digit ints exceed the
    comparers' float-exact range)."""
    from .functions.expr_utils import let_col

    d = _t(spark, sf_dir, "documents", spread=True)

    def le_u64(m):  # first 8 md5 bytes little-endian == md5_number_upper
        return F.conv(
            F.concat(*[F.substring(m, i * 2 + 1, 2) for i in reversed(range(8))]),
            16,
            10,
        ).cast("decimal(20,0)")

    def grams_of(s: Column) -> Column:
        n = F.length(s)
        return F.when(
            n >= _WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (_WINNOW_K - 1), F.lit(1))),
                # let-bind the md5 hex per gram too: le_u64 references its
                # argument 8x (one per byte), which would mean 8 md5
                # evaluations per gram inlined
                lambda i: let_col(F.md5(F.substring(s, i, F.lit(_WINNOW_K))), le_u64),
            ),
        ).otherwise(F.array().cast("array<decimal(20,0)>"))

    def mins_of(hs: Column) -> Column:
        # sliding min of width 4 by doubling: pair[j] = min(h[j],
        # h[j+1]), quad[j] = min(pair[j], pair[j+2]) — two O(n)
        # zip_with passes instead of n slice-copies of width 4 (the
        # transform(sequence, j -> array_min(slice(hs, j, 4))) form
        # allocates a 4-element decimal array per window). zip_with
        # pads the shorter side with NULL and least() skips NULLs, so
        # trailing entries hold partial-window mins — the final slice
        # keeps only the n-3 full windows. pair is let-bound (quad
        # references it twice); hs is already a lambda var (free).
        # empty (not null) on short docs: explode of [] emits no rows,
        # so no Filter is needed and _fps stays single-referenced
        # The doubling offsets below (pair stride 2, quad stride 3) are
        # hardwired to window width 4 — fail loudly if the constant ever
        # moves, since the size/slice arithmetic would still "work"
        # while producing wrong fingerprints (ADVICE r4).
        assert _WINNOW_W == 4, "doubling offsets below assume width 4"
        pair = F.zip_with(
            hs,
            F.slice(hs, 2, F.greatest(F.size(hs) - 1, F.lit(0))),
            lambda x, y: F.least(x, y),
        )
        return F.when(
            F.size(hs) >= _WINNOW_W,
            F.array_distinct(
                let_col(
                    pair,
                    lambda a: F.slice(
                        F.zip_with(
                            a,
                            F.slice(a, 3, F.greatest(F.size(a) - 2, F.lit(0))),
                            lambda x, y: F.least(x, y),
                        ),
                        1,
                        F.size(hs) - (_WINNOW_W - 1),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<decimal(20,0)>"))

    # let-bound stages (expr_utils.let_col): withColumn aliases are NOT
    # a safe barrier here — CollapseProject inlines them through the
    # Filter/Generate above, re-evaluating the normalization once per
    # GRAM and the gram pipeline once per WINDOW (O(n^2), >300s at
    # sf0.01 vs ~4s let-bound). Lambda-bound values evaluate exactly
    # once by construction.
    norm = F.substring(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), 1, _WINNOW_CAP
    )
    fps = let_col(norm, lambda s: let_col(grams_of(s), mins_of))
    return (
        d.select("doc_id", F.explode(fps).alias("fp"))
        .select("doc_id", F.col("fp").cast("string").alias("fingerprint"))
    )


@query(
    "quantize_embeddings",
    """
    SELECT vec_id, pos, code, scale FROM (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CASE WHEN mx > 0 THEN CAST(round(CAST(unnest(embedding) AS DOUBLE) * 127.0 / mx) AS INT) ELSE 0 END AS code,
             round(mx / 127.0, 6) AS scale
      FROM (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
        FROM embeddings
      )
    )
    """,
)
def quantize_embeddings(spark, sf_dir):
    """Int8 scalar quantization of the embedding column (the standard
    vector-store compression): per-vector max-abs scale, symmetric
    round-to-nearest codes. Long form (vec_id, pos, code, scale) —
    one narrow projection + posexplode, no shuffle."""
    e = _t(spark, sf_dir, "embeddings", spread=True)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    return (
        e.select(
            "vec_id",
            F.round(mx / 127.0, 6).alias("scale"),
            mx.alias("mx"),
            F.posexplode(v).alias("pos", "x"),
        )
        .select(
            "vec_id",
            "pos",
            F.when(F.col("mx") > 0, F.round(F.col("x") * 127.0 / F.col("mx")).cast("int"))
            .otherwise(0)
            .alias("code"),
            "scale",
        )
    )


@query(
    "sessionize_events",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id % 25 = 0
    ), s AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM o
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS decimal(18,2))) AS double) AS total_value
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag-flag + running
    sum + grouped agg, one shuffle on user_id."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    return stats.sessionize(e, "user_id", "ts", "event_id", "value", gap_minutes=30)


@query(
    "extract_news_docs",
    oracle_sql_gen.extract_news_sql(dates.cascade_patterns()),
)
def extract_news_docs(spark, sf_dir):
    """The reference's flagship §3.1 extraction path under the hard gate
    end-to-end: title clean (F13, web.go:60-162) + publish-date cascade
    (F10, content.go:23-68/310-373) + date-string normalization (F11,
    content.go:235-254). The documents corpus carries no titles/dates,
    so a synthetic page is built per row from a DETERMINISTIC recipe
    over (doc_id, source, text) — identical string construction in both
    engines — cycling five date shapes (full / zh-prefixed / en month /
    US slash / none) and a split-mark-rich title. The REAL operators run
    on the Spark side; the oracle replays them in DuckDB SQL."""
    d = _t(spark, sf_dir, "documents", spread=True)
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    v = F.col("doc_id") % 5
    date_str = (
        F.when(v == 0, F.concat(F.lit("2023-"), mm, F.lit("-"), dd, F.lit(" 08:30:15")))
        .when(
            v == 1,
            F.concat(F.lit("发布时间: 2023年"), mm, F.lit("月"), dd, F.lit("日 12时34分56秒")),
        )
        .when(v == 2, F.concat(F.lit("March "), dd, F.lit(", 2022 10:11")))
        .when(v == 3, F.concat(mm, F.lit("/"), dd, F.lit("/2021 08:30")))
        .otherwise(F.lit(""))
    )
    raw_title = F.concat(
        F.lit("首页-"),
        F.col("source"),
        F.lit(" - "),
        F.substring("text", 1, 24),
        F.lit(" | Example News"),
    )
    page = F.concat(
        raw_title, F.lit("\n"), F.substring("text", 25, 60), F.lit(" "), date_str,
        F.lit(" end."),
    )
    base = d.select("doc_id", "lang", raw_title.alias("rt"), page.alias("pg"))
    ex = dates.extract_publish_date_raw(F.col("pg"))
    staged = base.select(
        "doc_id",
        "pg",
        textnorm.web_title_clean(F.col("rt"), F.col("lang")).alias("title"),
        ex["kind"].alias("time_kind"),
        dates.normalize_date_string(ex["raw"]).alias("time_raw"),
    )
    return staged.select(
        "doc_id",
        "title",
        F.expr("instr(pg, title)").alias("title_pos"),
        "time_kind",
        "time_raw",
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS decimal(18,2))
                    * (1 - CAST(l.l_discount AS decimal(18,2)))) AS double) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: a six-table join tree where Catalyst's join
    reordering + broadcast selection carry the plan — the three dims
    (supplier/nation/region) broadcast, the fact side shuffles once on
    the orders/lineitem key, and the local-supplier predicate
    (c_nationkey = s_nationkey) rides the join condition instead of a
    post-filter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount").cast(DEC))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "events_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def events_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles per group (Spark
    `percentile` == DuckDB `quantile_cont`). At 100 TB swap in
    approx_percentile (t-digest) — same plan shape, bounded state;
    the exact form is the oracle-checkable baseline."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "orders_rollup",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS decimal(18,2))) AS double) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def orders_rollup(spark, sf_dir):
    """Grouping sets: ROLLUP computes (status, priority), (status), ()
    subtotals in ONE pass — partial aggregation applies to every
    grouping set, so the shuffle carries set-tagged partials, not a
    re-scan per level (the hand-rolled union-of-groupBys would scan 3x)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_price"),
    )


@query(
    "events_moving_avg",
    """
    SELECT event_id, user_id,
           round(CAST(SUM(CAST(value AS decimal(18,2)))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS double)
                 / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                 6) AS mavg_4
    FROM events WHERE user_id % 50 = 0
    """,
)
def events_moving_avg(spark, sf_dir):
    """Sliding-frame window aggregate (4-row trailing mean). The sum
    goes through a decimal cast so the frame arithmetic is exact and
    order-independent across engines (double AVG accumulates
    differently in sliding-window implementations); one user_id
    shuffle shared by both frames."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    mavg = F.round(
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
        / F.count(F.lit(1)).over(w),
        6,
    )
    return e.select("event_id", "user_id", mavg.alias("mavg_4"))


@query(
    "range_join_events",
    """
    SELECT a.event_id, COUNT(b.event_id) AS n_in_range
    FROM (SELECT * FROM events WHERE event_type = 'click' AND user_id % 5 = 0) a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
      ON a.user_id = b.user_id
     AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
    GROUP BY a.event_id
    """,
)
def range_join_events(spark, sf_dir):
    """Interval join done scale-right: clicks joined to views of the
    same user within +/-5 minutes via the BUCKETIZED range join
    (operators/rangejoin.py) — time-bucket equi-join + exact filter, no
    per-key cross product. The oracle is the naive inequality join."""
    from .operators import rangejoin

    e = _t(spark, sf_dir, "events")
    clicks = e.filter((F.col("event_type") == "click") & (F.col("user_id") % 5 == 0))
    views = e.filter(F.col("event_type") == "view")
    return rangejoin.within_range_count(
        clicks, views, "user_id", "ts", "event_id", window_seconds=300
    )


@query(
    "neardup_components_docs",
    f"""
    WITH RECURSIVE pairs AS ({oracle_sql_gen.minhash_lsh_sql()}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(n, l) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.n
    )
    SELECT n AS doc_id, MIN(l) AS component FROM reach GROUP BY n
    """,
)
def neardup_components_docs(spark, sf_dir):
    """LSH pairs -> DEDUP GROUPS: connected components over the minhash
    candidate graph (operators/components.py, iterative min-label
    propagation, lineage cut per round). Every doc gets a component id =
    the smallest doc_id it transitively near-duplicates; keeping one row
    per component is the final dedup step of a training-data pipeline.
    Oracle: DuckDB recursive CTE over the SAME replayed pair SQL."""
    from .operators import components

    d = _t(spark, sf_dir, "documents", spread=True)
    edges = dedup.minhash_lsh_candidates(d, "text", "doc_id").filter(
        F.col("jaccard") >= 0.3
    )
    return components.connected_components(
        edges, "id_a", "id_b", nodes=d.select("doc_id"), id_col="doc_id"
    ).select("doc_id", F.col("component"))


@query(
    "stratified_sample_docs",
    """
    SELECT doc_id, source FROM documents
    WHERE md5_number_upper(CAST(doc_id AS VARCHAR))::UHUGEINT % 100 <
          CASE WHEN source IN ('src0', 'src1') THEN 50
               WHEN source IN ('src2', 'src3') THEN 25
               ELSE 10 END
    """,
)
def stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling — the data-mixing primitive:
    per-stratum keep rates routed by a content-stable hash
    (tokens.md5_u64_le == DuckDB md5_number_upper, proven bit-equal), so
    the sample is reproducible across engines, runs, and partitionings —
    unlike sampleBy()'s RNG, which depends on partition layout. At
    100 TB this is a pure scan-side filter: no shuffle, prunable, and
    the keep decision never changes when data moves."""
    d = _t(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1"), 50)
        .when(F.col("source").isin("src2", "src3"), 25)
        .otherwise(10)
    )
    keep = tokens.md5_u64_le(F.col("doc_id")) % 100 < rate
    return d.filter(keep).select("doc_id", "source")


_CEPF_SEGS = (
    "list_filter(list_transform(string_split(pg, chr(10)),"
    " x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))), x -> x != '')"
)
_CEPF_URLS = "regexp_extract_all(pg, '(?i)https?://[^\\s]+')"


@query(
    "cepf_quality_docs",
    f"""
    WITH p AS (
      SELECT doc_id,
        substr(text, 1, 40) || chr(10) ||
        substr(text, 41, 60) ||
          CASE WHEN doc_id % 3 = 0 THEN ' see https://example.com/x next' ELSE '' END
          || chr(10) ||
        substr(text, 101, 100) AS pg
      FROM documents
    ), s AS (
      SELECT doc_id, pg, {_CEPF_SEGS} AS segs, {_CEPF_URLS} AS urls FROM p
    ), f AS (
      SELECT doc_id,
        len(segs) AS p_count,
        CAST(list_sum(list_transform(segs, x -> length(x))) AS BIGINT) AS text_count,
        COALESCE(length(array_to_string(urls, '')), 0) AS link_text,
        -- (DuckDB array_to_string of an EMPTY list is NULL, unlike
        --  Spark's array_join which yields '')
        len(urls) AS link_tag,
        list_transform(segs, x -> length(x)) AS leaves
      FROM s
    ), v AS (
      SELECT doc_id, p_count, text_count, link_text,
        CASE WHEN p_count = 0 THEN 0.0
             WHEN p_count = 1 THEN leaves[1] / 2.0
             ELSE list_sum(list_transform(leaves,
                    x -> (x - CAST(text_count AS DOUBLE) / p_count)
                       * (x - CAST(text_count AS DOUBLE) / p_count))) / p_count
        END AS leaf_var_raw,
        CASE WHEN (text_count - link_text) = 0 OR (p_count + 1) = 0 THEN 0.0
             ELSE CAST(text_count - link_text AS DOUBLE) / (p_count + 1)
        END AS density_raw
      FROM f
    )
    SELECT doc_id, p_count AS seg_count, text_count,
           CAST(link_text AS BIGINT) AS link_text_count,
           round(CASE WHEN text_count > 0 THEN link_text / text_count ELSE 0.0 END, 6)
             AS link_char_ratio,
           round(density_raw, 6) AS density,
           round(leaf_var_raw, 6) AS leaf_var,
           round(ln(sqrt(leaf_var_raw + 1.0))
                 * CAST(text_count - link_text AS DOUBLE)
                 * ln(text_count - link_text + 1.0)
                 * log10(p_count + 1.0), 6) AS cepf_score
    FROM v
    """,
)
def cepf_quality_docs(spark, sf_dir):
    """A2-A4 under the hard gate: the CEPF node statistics + score
    (content.go:1020-1104 recast, functions/quality.py — incl. the
    n==1 -> x/2 variance quirk) computed by the REAL quality_features
    over a deterministic 3-segment page built from each doc (same
    recipe both engines; doc_id%3 rows carry a URL span so the
    link-text branch is exercised), replayed stat-for-stat in DuckDB."""
    d = _t(spark, sf_dir, "documents", spread=True)
    page = F.concat(
        F.substring("text", 1, 40),
        F.lit("\n"),
        F.substring("text", 41, 60),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit(" see https://example.com/x next")
        ).otherwise(F.lit("")),
        F.lit("\n"),
        F.substring("text", 101, 100),
    )
    # struct selected ONCE, fields read in a second projection: q is a
    # non-cheap multi-referenced alias, so CollapseProject keeps the
    # two projections separate and the feature tree evaluates once per
    # row instead of once per output column
    staged = d.select("doc_id", quality.quality_features(page).alias("q"))
    q = F.col("q")
    return staged.select(
        "doc_id",
        q["seg_count"].alias("seg_count"),
        q["text_count"].alias("text_count"),
        q["link_text_count"].cast("long").alias("link_text_count"),
        q["link_char_ratio"].alias("link_char_ratio"),
        q["density"].alias("density"),
        q["leaf_var"].alias("leaf_var"),
        q["cepf_score"].alias("cepf_score"),
    )


@query(
    "psl_domains_docs",
    """
    WITH b AS (
      SELECT doc_id,
             'www' || CAST(doc_id % 3 AS VARCHAR) AS w,
             'site' || CAST(doc_id % 5 AS VARCHAR) AS sd,
             doc_id % 6 AS v
      FROM documents
    )
    SELECT doc_id,
      w || '.' || sd || '.' ||
        CASE v WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'org'
               WHEN 3 THEN 'net' WHEN 4 THEN 'kawasaki.jp'
               ELSE 'city.kawasaki.jp' END AS host,
      CASE WHEN v <= 3 THEN w WHEN v = 4 THEN '' ELSE w || '.' || sd END
        AS subdomain,
      CASE WHEN v <= 3 THEN sd WHEN v = 4 THEN w ELSE 'city' END AS domain,
      CASE v WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'org'
             WHEN 3 THEN 'net' WHEN 4 THEN sd || '.kawasaki.jp'
             ELSE 'kawasaki.jp' END AS tld
    FROM b
    """,
)
def psl_domains_docs(spark, sf_dir):
    """F16 under the hard gate: etld+1 parsing against the FULL public
    suffix list (domain.with_domain_parsed — distinct-host dim, last-k
    candidate explode, broadcast PSL rule join, exception-beats-longest
    prevailing rule). Hosts are built deterministically from doc_id
    cycling six suffix classes incl. the wildcard (*.kawasaki.jp → the
    site label joins the suffix) and the exception (!city.kawasaki.jp →
    city is the registrable domain). The oracle is HAND-DERIVED expected
    truth per publicsuffix.org semantics — the PSL machinery must
    reproduce it, not a SQL reimplementation of itself."""
    from .functions import domain

    d = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 6
    suffix = (
        F.when(v == 0, "com")
        .when(v == 1, "co.uk")
        .when(v == 2, "org")
        .when(v == 3, "net")
        .when(v == 4, "kawasaki.jp")
        .otherwise("city.kawasaki.jp")
    )
    host = F.concat(
        F.lit("www"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".site"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("."),
        suffix,
    )
    base = d.select("doc_id", host.alias("host"))
    parsed = domain.with_domain_parsed(base, "host")
    dp = F.col("domain_parsed")
    return parsed.select(
        "doc_id",
        "host",
        dp["subdomain"].alias("subdomain"),
        dp["domain"].alias("domain"),
        dp["tld"].alias("tld"),
    )


_URL_SQL_CASE = """
      CASE v
        WHEN 0 THEN 'https://www.site' || s || '.com/news/2023/05/article-' || CAST(doc_id AS VARCHAR) || '.html'
        WHEN 1 THEN 'https://site' || s || '.com/index.html'
        WHEN 2 THEN 'https://site' || s || '.com/files/report-' || CAST(doc_id AS VARCHAR) || '.pdf'
        WHEN 3 THEN 'http://192.168.1.' || CAST(doc_id % 250 + 1 AS VARCHAR) || '/a/b.html'
        WHEN 4 THEN 'https://site' || s || ':8080/x.html'
        WHEN 5 THEN 'https://site' || s || '.com/a[' || CAST(doc_id % 9 AS VARCHAR) || '].html'
        WHEN 6 THEN '/news/local/page' || CAST(doc_id AS VARCHAR) || '.html'
        ELSE 'https://site' || s || '.com/2023-05-1' || CAST(doc_id % 3 AS VARCHAR) || '/post.html'
      END
"""

_URL_PATH_RE = r"^(?:https?://[^/]*)?(/[^?#]*)"


@query(
    "url_rules_docs",
    f"""
    WITH b AS (
      SELECT doc_id, CAST(doc_id % 5 AS VARCHAR) AS s, doc_id % 8 AS v
      FROM documents
    ), u AS (
      SELECT doc_id, {_URL_SQL_CASE} AS url FROM b
    ), p AS (
      SELECT doc_id, url,
             regexp_extract(url, '{_URL_PATH_RE}', 1) AS path
      FROM u
    ), pd AS (
      SELECT doc_id, url, path,
        CASE WHEN p1 = '' THEN '/' ELSE p1 END AS p2
      FROM (
        SELECT *, CASE WHEN trim(path) = '' THEN '.'
                       ELSE regexp_replace(trim(path), '/+$', '') END AS p1
        FROM p
      )
    )
    SELECT doc_id, url,
      CASE
        WHEN regexp_matches(url, '[{{}}\\[\\]@$<>"]') THEN 'invalid url with illegal characters'
        WHEN NOT starts_with(lower(url), 'http') THEN 'invalid url with not absolute url'
        WHEN regexp_matches(url, '^https?://[^/]+:\\d+') THEN 'invalid url with not 80 port'
        WHEN regexp_matches(regexp_extract(url, '^https?://([^/:?#]+)', 1),
                            '\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}') THEN 'invalid url with ip hostname'
        WHEN lower(regexp_extract(url, '(\\.[A-Za-z0-9]+)(?:[?#].*)?$', 1)) IN
             ('.jpg','.jpeg','.png','.gif','.bmp','.txt','.xml','.pdf','.doc','.docx',
              '.ppt','.pptx','.xls','.xlsx','.zip','.rar','.7z','.gz','.apk','.cgi',
              '.exe','.bz2','.play','.rss','.sig','.sgf') THEN 'invalid url with suffix'
        ELSE NULL
      END AS filter_reason,
      (trim(path) = '' OR trim(path) = '/'
       OR regexp_matches(trim(path), '^/index\\.(html|shtml|htm|php|asp|aspx|jsp)$'))
        AS is_index,
      CASE WHEN p2 = '.' THEN '.'
           WHEN NOT contains(p2, '/') THEN '.'
           WHEN regexp_extract(p2, '^(.*)/[^/]*$', 1) = '' THEN '/'
           ELSE regexp_extract(p2, '^(.*)/[^/]*$', 1)
      END AS parent_dir,
      regexp_matches(regexp_replace(path, '[.\\-_]', '', 'g'),
        '(20[2-3][0-9][/]?(0[1-9]|1[0-2]|[1-9])[/]?(0[1-9]|[1-2][0-9]|3[0-1]|[1-9])?)')
        AS has_date_path
    FROM pd
    """,
)
def url_rules_docs(spark, sf_dir):
    """P2/P4/F17/F18 + the A5 URL-date feature under the hard gate:
    url_filter_reason (first-failing-rule order), is_index_path,
    Go-path.Dir parent dirs, and the publish-date path feature over
    deterministic URLs cycling eight shapes (clean article / index /
    binary suffix / IP host / port / illegal chars / relative / dated
    path). The Spark side runs the REAL rules (incl. parse_url HOST);
    the oracle replays them in RE2 SQL."""
    from .operators import links

    d = _t(spark, sf_dir, "documents", spread=True)
    s = (F.col("doc_id") % 5).cast("string")
    v = F.col("doc_id") % 8
    url = (
        F.when(v == 0, F.concat(F.lit("https://www.site"), s, F.lit(".com/news/2023/05/article-"), F.col("doc_id").cast("string"), F.lit(".html")))
        .when(v == 1, F.concat(F.lit("https://site"), s, F.lit(".com/index.html")))
        .when(v == 2, F.concat(F.lit("https://site"), s, F.lit(".com/files/report-"), F.col("doc_id").cast("string"), F.lit(".pdf")))
        .when(v == 3, F.concat(F.lit("http://192.168.1."), (F.col("doc_id") % 250 + 1).cast("string"), F.lit("/a/b.html")))
        .when(v == 4, F.concat(F.lit("https://site"), s, F.lit(":8080/x.html")))
        .when(v == 5, F.concat(F.lit("https://site"), s, F.lit(".com/a["), (F.col("doc_id") % 9).cast("string"), F.lit("].html")))
        .when(v == 6, F.concat(F.lit("/news/local/page"), F.col("doc_id").cast("string"), F.lit(".html")))
        .otherwise(F.concat(F.lit("https://site"), s, F.lit(".com/2023-05-1"), (F.col("doc_id") % 3).cast("string"), F.lit("/post.html")))
    )
    base = d.select("doc_id", url.alias("url"))
    path = F.regexp_extract(F.col("url"), _URL_PATH_RE, 1)
    return base.select(
        "doc_id",
        "url",
        rules.url_filter_reason(F.col("url")).alias("filter_reason"),
        rules.is_index_path(path).alias("is_index"),
        links.path_dir(path).alias("parent_dir"),
        rules.has_publish_date_path(path).alias("has_date_path"),
    )


@query(
    "charset_rules_docs",
    """
    WITH b AS (
      SELECT doc_id, doc_id % 6 AS v, doc_id % 4 = 0 AS valid_utf8
      FROM documents
    ), u AS (
      SELECT doc_id, valid_utf8,
        CASE v
          WHEN 0 THEN 'Content-Type: text/html; charset=GB2312 more'
          WHEN 1 THEN '<meta charset="utf8">'
          WHEN 2 THEN '<meta content="text/html; charset=' || chr(39) || 'Big5-HKSCS' || chr(39) || '">'
          WHEN 3 THEN 'charset = Shift_JIS'
          WHEN 4 THEN 'no declaration here'
          ELSE 'charset=euc-kr'
        END AS decl
      FROM b
    ), e AS (
      SELECT doc_id, valid_utf8, decl,
        regexp_extract(decl,
          '(?i)charset\\s*=\\s*["' || chr(39) || ']?([a-z][_\\-0-9a-z]*)', 1) AS raw
      FROM u
    ), c AS (
      SELECT doc_id, valid_utf8, decl, raw,
        CASE WHEN upper(trim(raw)) IN ('UTF8', 'UTF_8') THEN 'UTF-8'
             WHEN starts_with(upper(trim(raw)), 'GB') THEN 'GBK'
             WHEN starts_with(upper(trim(raw)), 'BIG5') THEN 'Big5'
             WHEN starts_with(upper(trim(raw)), 'SHIFT') THEN 'SHIFT_JIS'
             ELSE upper(trim(raw)) END AS canon
      FROM e
    )
    SELECT doc_id, raw AS declared,
      CASE WHEN valid_utf8 THEN 'UTF-8' ELSE canon END AS charset,
      CASE WHEN valid_utf8 THEN 'valid' ELSE 'header' END AS charset_pos,
      CASE (CASE WHEN valid_utf8 THEN 'UTF-8' ELSE canon END)
        WHEN 'GBK' THEN 'zh' WHEN 'Big5' THEN 'zh' WHEN 'ISO-2022-CN' THEN 'zh'
        WHEN 'SHIFT_JIS' THEN 'ja' WHEN 'KOI8-R' THEN 'ru' WHEN 'EUC-JP' THEN 'ja'
        WHEN 'EUC-KR' THEN 'ko' WHEN 'EUC-CN' THEN 'zh' WHEN 'ISO-2022-JP' THEN 'ja'
        WHEN 'ISO-2022-KR' THEN 'ko' ELSE NULL END AS charset_lang
    FROM c
    """,
)
def charset_rules_docs(spark, sf_dir):
    """F2/F3 + J1 under the hard gate: declaration extraction
    (RegexCharset), convertCharset alias folding, the Charset() valid-
    utf8-short-circuit decision, and the CharsetLangMap lookup — over
    deterministic declaration strings cycling six shapes (Content-Type
    header / HTML5 meta / quoted HTML4 meta / spaced / absent /
    lowercase alias), with doc_id%4 rows taking the valid-UTF-8 fast
    path. REAL functions on the Spark side (functions/charset.py),
    replayed in SQL."""
    from .functions import charset as cs

    d = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 6
    valid = F.col("doc_id") % 4 == 0
    decl = (
        F.when(v == 0, "Content-Type: text/html; charset=GB2312 more")
        .when(v == 1, '<meta charset="utf8">')
        .when(v == 2, "<meta content=\"text/html; charset='Big5-HKSCS'\">")
        .when(v == 3, "charset = Shift_JIS")
        .when(v == 4, "no declaration here")
        .otherwise("charset=euc-kr")
    )
    base = d.select(
        "doc_id",
        cs.extract_declared_charset(decl).alias("declared"),
        valid.alias("_valid"),
    )
    st = cs.charset_of(F.col("declared"), F.col("_valid"))
    return base.select(
        "doc_id",
        "declared",
        st["charset"].alias("charset"),
        st["charset_pos"].alias("charset_pos"),
        cs.charset_lang(st["charset"]).alias("charset_lang"),
    )


@query(
    "textnorm_docs",
    f"""
    SELECT doc_id,
      {_DUCK_CLEAN} AS cleaned,
      regexp_replace(text, '[\\pP\\pS]', '', 'g') AS no_sign,
      trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm_space,
      substr(trim(regexp_replace(regexp_replace(text, '[\\r\\n]+', ' ', 'g'),
                                 '\\s+', ' ', 'g')), 1, 64) AS title64
    FROM documents
    """,
)
def textnorm_docs(spark, sf_dir):
    """F6-F9 + T2/T4 under the hard gate directly over the corpus (no
    synthesis): the clean_for_lang chain (frozen order), RemoveSign,
    NormaliseSpace, and the 64-char title truncation — the reference's
    fun.* normalization family replayed character-for-character in RE2
    SQL (the Java-vs-RE2 \\pP/\\pS dialect is additionally pinned by the
    hypothesis property tests)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    return d.select(
        "doc_id",
        textnorm.clean_for_lang(t).alias("cleaned"),
        textnorm.remove_sign(t).alias("no_sign"),
        textnorm.normalise_space(t).alias("norm_space"),
        textnorm.truncate_title(t, 64).alias("title64"),
    )


@query(
    "gov_meta_docs",
    """
    WITH b AS (
      SELECT doc_id, lang, doc_id % 8 AS v FROM documents
    ), u AS (
      SELECT doc_id, lang, v,
        CASE v
          WHEN 0 THEN 'portal.ministry.gov.cn'
          WHEN 1 THEN 'city.council.gov.uk'
          WHEN 2 THEN 'agency.example.gov'
          WHEN 3 THEN 'news.example.hk'
          WHEN 4 THEN 'site.example.jp'
          WHEN 5 THEN 'journal.example.fr'
          WHEN 6 THEN 'example.gov.hk'
          ELSE 'plain.example.com'
        END AS host
      FROM b
    )
    SELECT doc_id, host,
      CASE v
        WHEN 0 THEN CASE WHEN lang = 'zh' THEN '中国' ELSE '' END
        WHEN 1 THEN '英国'
        WHEN 2 THEN '美国'
        WHEN 3 THEN CASE WHEN lang = 'zh' THEN '中国' ELSE '' END
        WHEN 5 THEN CASE WHEN lang = 'fr' THEN '法国' ELSE '' END
        WHEN 6 THEN '中国'
        ELSE ''
      END AS country,
      CASE v
        WHEN 3 THEN CASE WHEN lang = 'zh' THEN '中国香港' ELSE '' END
        WHEN 6 THEN CASE WHEN lang = 'zh' THEN '中国香港' ELSE '' END
        ELSE ''
      END AS province,
      CASE WHEN v IN (1, 2, 6) THEN '政务' ELSE '' END AS category
    FROM u
    """,
)
def gov_meta_docs(spark, sf_dir):
    """J4 under the hard gate: MetaFromHost (meta.go:75-183) — gov-TLD
    country mapping, the plain-.gov US rule, (suffix, lang) conjunction
    rules, and the gov-province refinement — over eight deterministic
    host shapes crossed with each doc's real lang label. The oracle is
    HAND-DERIVED expected truth per rule semantics, including the
    nuances: 'cn' is absent from the reference's gov map (gov.cn falls
    through to the .cn+zh suffix rule, category NOT 政务), and
    gov.hk keeps 政务 while its province still needs lang=zh."""
    from .functions import domain

    d = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 8
    host = (
        F.when(v == 0, "portal.ministry.gov.cn")
        .when(v == 1, "city.council.gov.uk")
        .when(v == 2, "agency.example.gov")
        .when(v == 3, "news.example.hk")
        .when(v == 4, "site.example.jp")
        .when(v == 5, "journal.example.fr")
        .when(v == 6, "example.gov.hk")
        .otherwise("plain.example.com")
    )
    base = d.select("doc_id", "lang", host.alias("host"))
    m = domain.meta_from_host(F.col("host"), F.col("lang"))
    return base.select(
        "doc_id",
        "host",
        m["country"].alias("country"),
        m["province"].alias("province"),
        m["category"].alias("category"),
    )


def _dates_family_sql() -> str:
    pat = dates._D_FULL
    return f"""
    WITH b AS (
      SELECT doc_id,
             CAST(doc_id % 9 + 1 AS VARCHAR) AS m1,
             CAST(doc_id % 3 AS VARCHAR) AS h,
             doc_id % 4 AS v
      FROM documents
    ), u AS (
      SELECT doc_id,
        CASE v
          WHEN 0 THEN 'a 2023-0' || m1 || '-11 b 2023-0' || m1 || '-11 0' || h || ':30:45 c'
          WHEN 1 THEN 'single 2022-12-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || ' only'
          WHEN 2 THEN 'no dates in here at all'
          ELSE 'zh 2021年3月9日 vs 2021-03-10 11:12 end'
        END AS pg
      FROM b
    ), c AS (
      SELECT doc_id, pg, regexp_extract_all(pg, '{pat}') AS cands FROM u
    )
    SELECT doc_id,
      len(cands) AS n_dates,
      cands[1] AS first_date,
      CASE WHEN len(cands) > 0 THEN
        list_reduce(list_prepend('', cands),
                    (acc, x) -> CASE WHEN length(x) > length(acc) THEN x ELSE acc END)
      END AS longest_date
    FROM c
    """


@query("dates_family_docs", _dates_family_sql())
def dates_family_docs(spark, sf_dir):
    """A8 (longest-wins date selection) + the F10 full-date extractor's
    multi-match surface under the hard gate: per-doc synthetic text
    cycling four shapes (two dates where the timed one is longer /
    single / none / zh-units vs dashed with time). The Spark side runs
    the REAL fold (dates.longest_date — first-wins on equal length);
    DuckDB replays it with the identical list_reduce fold."""
    d = _t(spark, sf_dir, "documents")
    m1 = (F.col("doc_id") % 9 + 1).cast("string")
    h = (F.col("doc_id") % 3).cast("string")
    v = F.col("doc_id") % 4
    pg = (
        F.when(
            v == 0,
            F.concat(
                F.lit("a 2023-0"), m1, F.lit("-11 b 2023-0"), m1,
                F.lit("-11 0"), h, F.lit(":30:45 c"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("single 2022-12-0"), (F.col("doc_id") % 9 + 1).cast("string"),
                F.lit(" only"),
            ),
        )
        .when(v == 2, F.lit("no dates in here at all"))
        .otherwise(F.lit("zh 2021年3月9日 vs 2021-03-10 11:12 end"))
    )
    base = d.select("doc_id", pg.alias("pg"))
    cands = dates.extract_all_full_dates(F.col("pg"))
    return base.select(
        "doc_id",
        F.size(cands).alias("n_dates"),
        F.try_element_at(cands, F.lit(1)).alias("first_date"),
        dates.longest_date(F.col("pg")).alias("longest_date"),
    )


@query(
    "events_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id % 7) AS BIGINT) AS n_user_buckets
    FROM events GROUP BY event_type
    """,
)
def events_distinct_users(spark, sf_dir):
    """Distinct aggregation shape: exact per-group COUNT(DISTINCT) —
    Spark expands it to a two-phase partial-distinct aggregate (dedup
    within partitions before the shuffle). At 100 TB swap in
    approx_count_distinct (HyperLogLog++, bounded state, one pass);
    the exact form is the oracle-checkable baseline."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("user_id") % 7).alias("n_user_buckets"),
    )


_LINK_TYPES_SQL = r"""
    WITH d AS (
      SELECT doc_id, doc_id % 3 AS si, (doc_id // 3) % 10 AS w,
             CAST(doc_id AS VARCHAR) AS ds
      FROM documents
    ), built AS (
      SELECT doc_id, si, w,
        CASE
          WHEN w <= 2 THEN CASE si WHEN 0 THEN '/news/2023/05/a' || ds || '.html'
                                   WHEN 1 THEN '/news/part/a' || ds || '.html'
                                   ELSE '/zone' || CAST(doc_id % 40 AS VARCHAR) || '/a' || ds || '.html' END
          WHEN w = 3 THEN CASE si WHEN 0 THEN '/news/2023/06/u' || ds || '.html'
                                  WHEN 1 THEN '/news/other/u' || ds || '.html'
                                  ELSE '/misc/u' || ds || '.html' END
          WHEN w = 4 THEN CASE si WHEN 0 THEN '/news/2023/07/l' || ds || '.html'
                                  WHEN 1 THEN '/news/x/l' || ds || '.html'
                                  ELSE '/l/l' || ds || '.html' END
          WHEN w = 5 THEN CASE si WHEN 0 THEN '/news/2023/08/p' || ds || '.html'
                                  WHEN 1 THEN '/news/y/p' || ds || '.html'
                                  ELSE '/m/p' || ds || '.html' END
          WHEN w = 6 THEN CASE si WHEN 0 THEN '/news/2023/09/lic' || ds || '.html'
                                  WHEN 1 THEN '/news/lic/lic' || ds || '.html'
                                  ELSE '/lic/lic' || ds || '.html' END
          WHEN w = 7 THEN '/c' || ds || '.html'
          WHEN w = 8 THEN '/files/f' || ds || '.pdf'
          ELSE '/index.html'
        END AS pth,
        CASE WHEN w = 3 THEN '新闻发布会现场'
             WHEN w = 4 THEN '火'
             WHEN w = 5 THEN '栏目'
             WHEN w = 6 THEN '广播电视节目制作经营许可证'
             WHEN w = 8 THEN '相关文件下载'
             ELSE '进口博览会开幕式在国家会展中心隆重举行' END AS title
      FROM d
    ), urls AS (
      SELECT *, 'https://www.site' || CAST(si AS VARCHAR) || '.com' || pth AS url
      FROM built
    ), feat AS (
      SELECT *,
        CASE
          WHEN regexp_matches(url, '[{}\[\]@$<>"]') THEN 'invalid url with illegal characters'
          WHEN NOT starts_with(lower(url), 'http') THEN 'invalid url with not absolute url'
          WHEN regexp_matches(url, '^https?://[^/]+:\d+') THEN 'invalid url with not 80 port'
          WHEN regexp_matches(regexp_extract(url, '^https?://([^/:?#]+)', 1),
                              '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}') THEN 'invalid url with ip hostname'
          WHEN lower(regexp_extract(url, '(\.[A-Za-z0-9]+)(?:[?#].*)?$', 1)) IN
               ('.jpg','.jpeg','.png','.gif','.bmp','.txt','.xml','.pdf','.doc','.docx',
                '.ppt','.pptx','.xls','.xlsx','.zip','.rar','.7z','.gz','.apk','.cgi',
                '.exe','.bz2','.play','.rss','.sig','.sgf') THEN 'invalid url with suffix'
          ELSE NULL
        END AS reject_reason,
        (trim(pth) = '' OR trim(pth) = '/'
         OR regexp_matches(trim(pth), '^/index\.(html|shtml|htm|php|asp|aspx|jsp)$')) AS is_index,
        CASE WHEN regexp_replace(pth, '/[^/]*$', '') = '' THEN '/'
             ELSE regexp_replace(pth, '/[^/]*$', '') END AS dir
      FROM urls
    ), feat2 AS (
      SELECT *,
        list_filter(string_split(dir, '/'), x -> x != '')[1] AS seg,
        regexp_matches(regexp_replace(dir, '[.\-_]', '', 'g'),
          '(20[2-3][0-9][/]?(0[1-9]|1[0-2]|[1-9])[/]?(0[1-9]|[1-2][0-9]|3[0-1]|[1-9])?)') AS has_date
      FROM feat
    ), pass1 AS (
      SELECT *,
        CASE
          WHEN reject_reason IS NOT NULL OR is_index THEN 'none'
          WHEN length(url) > 255 THEN 'none'
          WHEN length(regexp_replace(title, '[^\p{Han}]', '', 'g')) > 5 THEN
            CASE WHEN length(replace(title, ' ', '')) >= 8 THEN 'content'
                 WHEN regexp_matches(replace(title, ' ', ''), '[，。；：？！（）“”]') THEN 'content'
                 ELSE 'unknown' END
          WHEN length(regexp_replace(title, '[^\p{Han}]', '', 'g')) > 0 THEN 'list'
          WHEN lower(title) IN ('nba','cba','5g','ai','it','ipo') THEN 'list'
          ELSE 'none'
        END AS t1
      FROM feat2
    ), stats AS (
      SELECT si,
             avg(CASE WHEN has_date THEN 1.0 ELSE 0.0 END) AS publish_prob,
             count(*) AS content_count
      FROM pass1 WHERE t1 = 'content' GROUP BY si
    ), segc AS (
      SELECT si, seg, count(*) AS c
      FROM pass1 WHERE t1 = 'content' AND seg IS NOT NULL GROUP BY si, seg
    ), tops AS (
      SELECT segc.si, list(seg) AS top_paths
      FROM segc JOIN stats USING (si)
      WHERE content_count >= 8 AND c > 1 AND CAST(c AS DOUBLE) / content_count > 0.4
      GROUP BY segc.si
    ), joined AS (
      SELECT p.*, coalesce(s.publish_prob > 0.7, false) AS strong,
             coalesce(len(t.top_paths) > 0, false) AS has_tops,
             coalesce(t.top_paths, []) AS top_paths
      FROM pass1 p LEFT JOIN stats s USING (si) LEFT JOIN tops t USING (si)
    ), pass2 AS (
      SELECT *,
        CASE
          WHEN strong AND t1 = 'list' AND has_date AND length(title) >= 2 THEN 'content'
          WHEN strong AND t1 = 'unknown' AND has_date AND length(title) >= 2 THEN 'content'
          WHEN strong AND t1 = 'unknown' THEN 'list'
          WHEN NOT strong AND has_tops AND t1 = 'unknown' AND seg IS NOT NULL
               AND list_contains(top_paths, seg) AND length(title) >= 2 THEN 'content'
          WHEN NOT strong AND has_tops AND t1 = 'unknown' AND seg IS NOT NULL THEN 'list'
          WHEN t1 = 'content' AND (strong OR has_tops)
               AND (trim(pth) = '' OR trim(pth) = '/' OR seg IS NULL) THEN 'unknown'
          ELSE t1
        END AS t2
      FROM joined
    )
    SELECT doc_id, url, reject_reason,
      CASE WHEN t2 = 'content' AND regexp_matches(title,
             '(经营|制作|信息服务|出版|出版服务|演出|视听节目|新闻|视听|新网)许可证')
           THEN 'none' ELSE t2 END AS link_type
    FROM pass2
"""


@query("link_types_docs", _LINK_TYPES_SQL)
def link_types_docs(spark, sf_dir):
    """The reference's second flagship trace — DetectDomain → LinkTypes
    (extract/link.go:62-253) — END-TO-END under the hard gate: per-link
    classification (LinkIsContentByTitle :276-364) → per-site stats
    (publishProb A5, topPaths A6) → linkTypePathProcess two-pass
    reclassification (:155-253: strong-date branch, topPaths branch,
    no-path content cleanup) → zh licence-blacklist demotion (linkClean
    :139-153), jointly covering A5/A6/P2-P4/P8/U1.

    The synthetic link table derives deterministically from doc_id:
    three SITES with distinct statistical profiles — site0's content
    URLs carry date dirs (publishProb 0.8 > 0.7 → branch A: dated list/
    unknown rows with title>=2 runes promote, short-title list rows
    stay), site1's cluster under /news/ without dates (topPaths branch:
    unknown rows under a top path promote), site2 scatters across
    /zoneN/ (no signature — nothing reclassifies) — crossed with ten
    row variants (long-zh content titles, 7-han unknown, 1/2-char list
    titles straddling the titleLen>=2 promote gate, licence-blacklist
    title, root-path content that the cleanup demotes, .pdf reject,
    /index.html). The oracle replays every stage in RE2 SQL including
    the site-level aggregates."""
    from .operators import links as links_ops

    d = _t(spark, sf_dir, "documents", spread=True, pin=True)
    si = F.col("doc_id") % 3
    w = F.expr("doc_id div 3") % 10
    did = F.col("doc_id").cast("string")

    def _cat(*parts):
        return F.concat(*[F.lit(x) if isinstance(x, str) else x for x in parts])

    title = (
        F.when(w == 3, F.lit("新闻发布会现场"))
        .when(w == 4, F.lit("火"))
        .when(w == 5, F.lit("栏目"))
        .when(w == 6, F.lit("广播电视节目制作经营许可证"))
        .when(w == 8, F.lit("相关文件下载"))
        .otherwise(F.lit("进口博览会开幕式在国家会展中心隆重举行"))
    )
    p = (
        F.when(
            w <= 2,
            F.when(si == 0, _cat("/news/2023/05/a", did, ".html"))
            .when(si == 1, _cat("/news/part/a", did, ".html"))
            .otherwise(
                _cat("/zone", (F.col("doc_id") % 40).cast("string"), "/a", did, ".html")
            ),
        )
        .when(
            w == 3,
            F.when(si == 0, _cat("/news/2023/06/u", did, ".html"))
            .when(si == 1, _cat("/news/other/u", did, ".html"))
            .otherwise(_cat("/misc/u", did, ".html")),
        )
        .when(
            w == 4,
            F.when(si == 0, _cat("/news/2023/07/l", did, ".html"))
            .when(si == 1, _cat("/news/x/l", did, ".html"))
            .otherwise(_cat("/l/l", did, ".html")),
        )
        .when(
            w == 5,
            F.when(si == 0, _cat("/news/2023/08/p", did, ".html"))
            .when(si == 1, _cat("/news/y/p", did, ".html"))
            .otherwise(_cat("/m/p", did, ".html")),
        )
        .when(
            w == 6,
            F.when(si == 0, _cat("/news/2023/09/lic", did, ".html"))
            .when(si == 1, _cat("/news/lic/lic", did, ".html"))
            .otherwise(_cat("/lic/lic", did, ".html")),
        )
        .when(w == 7, _cat("/c", did, ".html"))
        .when(w == 8, _cat("/files/f", did, ".pdf"))
        .otherwise(F.lit("/index.html"))
    )
    url = _cat("https://www.site", si.cast("string"), ".com", p)
    base = d.select("doc_id", url.alias("url"), title.alias("anchor_title"))
    out = links_ops.classify_links(base, lang="zh")
    return out.select("doc_id", "url", "reject_reason", "link_type")


def _simtext_oracle_sql() -> str:
    """Literal expected-truth table for the A11 similarity argmax (the
    psl_domains_docs hand-derived-oracle pattern): DuckDB returns the
    FROZEN expectations; Spark must reproduce them via the UDF."""
    from .fixtures.simtext_fixtures import FIXTURES

    def q(s):
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({fid}, {q(best)}, {r!r})" for fid, _c, _t_, best, r in FIXTURES
    )
    return f"""
    SELECT fid, CAST(best AS VARCHAR) AS best, CAST(ratio AS DOUBLE) AS ratio
    FROM (VALUES
      {rows}
    ) AS t(fid, best, ratio)
    """


@query("simtext_argmax_docs", _simtext_oracle_sql())
def simtext_argmax_docs(spark, sf_dir):
    """A11/F15 under the hard gate: per-row similarity argmax
    (simtext.best_match_udf — difflib.SequenceMatcher ratio, argmax
    over the candidate array, first max wins) against 53 frozen fixture
    rows covering zh/en titles, exact ties, below-threshold noise,
    hand-computed LCS-arithmetic ratios (fids 43-52, difflib-independent),
    empty/single candidate lists, case/punctuation deltas and length
    extremes (fixtures/simtext_fixtures.py; reference semantics:
    extract/content.go:956-978 getTitleByEditDistance). The oracle is
    the frozen expected-truth table — SequenceMatcher is not
    SQL-expressible, so the gate checks the UDF value-for-value the
    same way psl_domains_docs gates the PSL machinery.

    sf_dir is unused: the fixture corpus IS the input (same literal
    rows both engines)."""
    from .fixtures.simtext_fixtures import FIXTURES
    from .functions import simtext

    df = spark.createDataFrame(
        [(fid, cands, target) for fid, cands, target, _b, _r in FIXTURES],
        "fid long, candidates array<string>, target string",
    )
    m = simtext.best_match_udf(F.col("candidates"), F.col("target"))
    return df.select("fid", m["best"].alias("best"), m["ratio"].alias("ratio"))


def _audio_oracle_sql() -> str:
    """Literal expected-truth table for the audio decode/features leg
    (fixtures/audio_fixtures.py EXPECTED — raw doubles frozen via repr,
    so the DuckDB literal parses to the bit-identical float64 the
    operators emit)."""
    from .fixtures.audio_fixtures import EXPECTED

    def q(s):
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({fid}, {'TRUE' if ok else 'FALSE'}, {q(err)}, {n}, {sr}, {rms!r},"
        f" {peak!r}, {clip!r}, {dc!r}, {zcr!r}, {nf}, {cent!r}, {roll!r},"
        f" {sil!r}, {rn})"
        for (fid, ok, err, n, sr, rms, peak, clip, dc, zcr, nf, cent, roll, sil, rn)
        in EXPECTED
    )
    return f"""
    SELECT CAST(fid AS BIGINT) AS fid, ok, CAST(err AS VARCHAR) AS err,
           CAST(n_samples AS INTEGER) AS n_samples,
           CAST(sr_decoded AS INTEGER) AS sr_decoded,
           CAST(rms AS DOUBLE) AS rms, CAST(peak AS DOUBLE) AS peak,
           CAST(clip_ratio AS DOUBLE) AS clip_ratio,
           CAST(dc_offset AS DOUBLE) AS dc_offset,
           CAST(zcr AS DOUBLE) AS zcr,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(centroid_hz AS DOUBLE) AS centroid_hz,
           CAST(rolloff_hz AS DOUBLE) AS rolloff_hz,
           CAST(silence_ratio AS DOUBLE) AS silence_ratio,
           CAST(resampled_n AS INTEGER) AS resampled_n
    FROM (VALUES
      {rows}
    ) AS t(fid, ok, err, n_samples, sr_decoded, rms, peak, clip_ratio,
           dc_offset, zcr, n_frames, centroid_hz, rolloff_hz,
           silence_ratio, resampled_n)
    """


def _charset_guess_oracle_sql() -> str:
    """By-construction truth table for the charset statistical guess:
    each fixture payload is a known text encoded with a known codec, so
    the expectations are ground truth independent of the sniffer."""
    from .fixtures.charset_fixtures import expected_rows

    def q(s):
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({fid}, {q(c)}, {q(p)}, {q(t)})" for fid, c, p, t in expected_rows()
    )
    return f"""
    SELECT CAST(fid AS BIGINT) AS fid, CAST(charset AS VARCHAR) AS charset,
           CAST(charset_pos AS VARCHAR) AS charset_pos,
           CAST(decoded_text AS VARCHAR) AS decoded_text
    FROM (VALUES
      {rows}
    ) AS t(fid, charset, charset_pos, decoded_text)
    """


@query("charset_guess_docs", _charset_guess_oracle_sql())
def charset_guess_docs(spark, sf_dir):
    """F4/X5 under the hard gate (round-4 verdict #6): the charset
    statistical guesser (charset_bytes._guess — BOM shortcut +
    frequency-weighted try-decode cascade over the CharsetLangMap
    encodings, lang.go:27-38) plus the header/html alias folds
    (charset.go:196-222) and conflict rules (charset.go:70-106),
    through the production sniff_charset_udf Arrow UDF against 34
    by-construction truth rows (fixtures/charset_fixtures.py) — the
    last 8 are adversarial boundary rows (measured 0.25/0.25 guess-
    order tie, exact-0.2 gate edge, mixed-script, garbage-valid decode
    confusions, shortest payloads; round 6). Every row resolves
    deterministically — none may reach the version-dependent
    charset_normalizer fallback (pinned by
    tests/test_charset_fixtures.py).

    sf_dir is unused: the fixture corpus IS the input."""
    from .fixtures.charset_fixtures import build_rows
    from .functions.charset_bytes import sniff_charset_udf

    df = spark.createDataFrame(
        build_rows(), "fid long, data binary, declared string"
    )
    s = sniff_charset_udf(F.col("data"), F.col("declared"))
    return df.select("fid", s.alias("s")).select(
        "fid",
        F.col("s.charset").alias("charset"),
        F.col("s.charset_pos").alias("charset_pos"),
        F.col("s.decoded_text").alias("decoded_text"),
    )


@query("audio_decode_docs", _audio_oracle_sql())
def audio_decode_docs(spark, sf_dir):
    """The north-star audio leg under the hard gate (round-4 verdict
    #1): 73 deterministic WAV/PCM/FLAC/AU/AIFF/RF64 byte fixtures —
    including G.711 telephony (µ-law/A-law WAV tags + headerless
    codecs over the full 256-code space, tables pinned against the
    stdlib audioop oracle, fids 59-63), IMA ADPCM (fid 64; round 8
    adds the STEREO interleave and 'fact'-chunk truncation twins,
    fids 65-66), and the round-8 Sun-.au / AIFF containers as
    cross-container twins of frozen rows (fids 67-71 — the 24-bit
    truth is locked across FLAC/WAV/raw/AIFF),
    stereo downmix, FLAC stereo DECORRELATION (left-side / right-side
    / mid-side with predictor-coded 17-bit side channels, fids 49-51),
    sample widths beyond 16-bit in BOTH containers (24-bit hi-res +
    8-bit + float32, fids 52-58 — the WAV rows are cross-container
    twins of the FLAC rows, one truth for both parsers),
    odd-chunk RIFF walks, sub-frame clips, and the
    full typed-error family (empty/oversize/non-whitelisted/corrupt
    container/truncated FLAC) — pushed through the REAL production
    operators and compared with the frozen expected-truth table. ok/err
    come from the fused.fused_model_arrow_udf Arrow UDF (NULL
    langid/ppl inputs), the decode verdict run_pipeline acts on; every
    scalar comes from the audio_features.extract_audio_features
    mapInArrow. Reference analog: the
    transcode stage http.go:157-170 whose charset half is gated by
    charset_rules_docs; decode is not SQL-expressible, so the oracle
    is the frozen-literal pattern (simtext_argmax_docs).

    sf_dir is unused: the fixture corpus IS the input."""
    from .fixtures.audio_fixtures import build_rows
    from .operators import audio_features as af
    from .operators.fused import fused_model_arrow_udf

    df = spark.createDataFrame(
        build_rows(), "fid long, bytes binary, codec string, sr_hz int"
    )
    no_text = F.lit(None).cast("string")
    dec = df.select(
        "fid",
        fused_model_arrow_udf(
            F.col("bytes"), F.col("codec"), F.col("sr_hz"), no_text, no_text, no_text
        ).alias("d"),
    ).select("fid", F.col("d.ok").alias("ok"), F.col("d.err").alias("err"))
    feats = af.extract_audio_features(
        df.select(
            F.col("fid").cast("string").alias("clip_id"), "bytes", "codec", "sr_hz"
        )
    ).select(
        F.col("clip_id").cast("long").alias("fid"),
        "n_samples",
        "sr_decoded",
        "rms",
        "peak",
        "clip_ratio",
        "dc_offset",
        F.col("zero_cross_rate").alias("zcr"),
        "n_frames",
        F.col("spectral_centroid_hz").alias("centroid_hz"),
        F.col("spectral_rolloff_hz").alias("rolloff_hz"),
        "silence_ratio",
        "resampled_n",
    )
    return dec.join(feats, "fid")


def _audio_fp_oracle_sql() -> str:
    """Literal expected-truth table for the audio-fingerprint near-dup
    leg (fixtures/audio_fp_fixtures.py EXPECTED — by-construction
    duplicate structure, grouping cross-checked by brute-force
    union-find against the production pigeonhole-LSH path)."""
    from .fixtures.audio_fp_fixtures import EXPECTED

    def q(s):
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({fid}, {q(err)}, {n}, {fp64}, {'TRUE' if deg else 'FALSE'}, {gid})"
        for fid, err, n, fp64, deg, gid in EXPECTED
    )
    return f"""
    SELECT CAST(fid AS BIGINT) AS fid, CAST(err AS VARCHAR) AS err,
           CAST(n_subfp AS INTEGER) AS n_subfp,
           CAST(fp64 AS BIGINT) AS fp64,
           fp_degenerate,
           CAST(group_id AS BIGINT) AS group_id
    FROM (VALUES
      {rows}
    ) AS t(fid, err, n_subfp, fp64, fp_degenerate, group_id)
    """


@query("audio_fp_docs", _audio_fp_oracle_sql())
def audio_fp_docs(spark, sf_dir):
    """Robust audio fingerprint + cross-codec near-dup grouping under
    the hard gate (round 8): the Haitsma&Kalker-2002 spectro-temporal
    sign fingerprint (operators/audio_fp.py) pushed through the REAL
    production operators (fingerprint_clips mapInArrow ->
    audio_neardup_groups pigeonhole-block LSH -> connected
    components) over 15 by-construction fixtures — one clip
    re-encoded SIX ways (WAV/FLAC/AIFF containers, 24-bit
    re-quantization, 8 kHz re-render, half gain) that must land in
    ONE group, four distinct singletons, the stationary-clip H&K
    collapse pair (equal fp64, degenerate-flagged, must NOT merge),
    and typed error/edge rows. The frozen grouping is derived by
    INDEPENDENT brute-force union-find, so the gate also verifies the
    8x8-bit block split's recall guarantee at hamming <= 7.
    Reference analog: the byte-exact seen-set dedup (url.go seen-set,
    crawler.go) — this is its perceptual twin for the audio payload;
    not SQL-expressible (FFT), so the oracle is the frozen-literal
    pattern (audio_decode_docs).

    sf_dir is unused: the fixture corpus IS the input."""
    from .fixtures.audio_fp_fixtures import build_rows
    from .operators.audio_fp import audio_neardup_groups, fingerprint_clips

    df = spark.createDataFrame(
        build_rows(), "fid long, bytes binary, codec string, sr_hz int"
    ).select(
        F.col("fid").cast("string").alias("clip_id"), "bytes", "codec", "sr_hz"
    )
    # one UDF execution total: the query references fp again for the
    # final join, so cut the lineage here (audio_neardup_groups cuts
    # its own internal references the same way)
    fp = fingerprint_clips(df).localCheckpoint(eager=False)
    groups = audio_neardup_groups(fp)
    return (
        fp.join(groups, "clip_id")
        .select(
            F.col("clip_id").cast("long").alias("fid"),
            "err",
            "n_subfp",
            "fp64",
            "fp_degenerate",
            F.col("group_id").cast("long").alias("group_id"),
        )
    )


def _audio_subfp_oracle_sql() -> str:
    """Literal expected-truth table for the SUB-fingerprint matching
    tier (fixtures/audio_fp_fixtures.py SUBFP_EXPECTED — both tiers'
    groupings derived by independent brute-force union-find over the
    exact production predicates)."""
    from .fixtures.audio_fp_fixtures import SUBFP_EXPECTED

    def q(s):
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(cid)}, {q(err)}, {n}, {'TRUE' if deg else 'FALSE'},"
        f" {q(sg)}, {q(fg)})"
        for cid, err, n, deg, sg, fg in SUBFP_EXPECTED
    )
    return f"""
    SELECT CAST(clip_id AS VARCHAR) AS clip_id,
           CAST(err AS VARCHAR) AS err,
           CAST(n_subfp AS INTEGER) AS n_subfp,
           fp_degenerate,
           CAST(subfp_group AS VARCHAR) AS subfp_group,
           CAST(fp64_group AS VARCHAR) AS fp64_group
    FROM (VALUES
      {rows}
    ) AS t(clip_id, err, n_subfp, fp_degenerate, subfp_group, fp64_group)
    """


@query("audio_subfp_docs", _audio_subfp_oracle_sql())
def audio_subfp_docs(spark, sf_dir):
    """The noise-robust SUB-fingerprint matching tier under the hard
    gate (late round 8), pinned side-by-side with the fp64 tier it
    upgrades: ONE fingerprint pass (fingerprint_clips_full mapInArrow
    — packed subfp stream + active-position coarse (cell, value)
    blocking probes retained, <= 8 KiB/clip) feeds BOTH
    audio_subfp_neardup_groups (shared-probe blocking ->
    bit-set-Jaccard verify -> components) and
    audio_neardup_groups (pigeonhole-block LSH over fp64). The frozen
    truth encodes the measured contrast the tier exists for
    (BENCH/BASELINE.md robustness table): 20/15 dB noisy twins and a
    60% truncation and a 200 ms start-crop (a4 — the trimmed
    re-upload, recovered by coarse-cell probes + shift-scan verify)
    group ONLY at the subfp tier (fp64 hamming 24/32, far past the
    <= 7 cut), an exact-prefix 40% truncation is kept out by the
    overlap-ratio containment guard despite Jaccard 1.0 over the
    overlap, a 700 ms crop past the FP_SHIFT_SCAN window (t0) is kept
    out on scanned Jaccard, and degenerate/error rows stay singleton
    at both tiers. Grouping truth is derived by independent brute-force
    union-find over the exact production predicates (the recall
    cross-check for probe blocking). Not SQL-expressible (FFT), so
    the oracle is the frozen-literal pattern (audio_fp_docs).

    sf_dir is unused: the fixture corpus IS the input."""
    from .fixtures.audio_fp_fixtures import build_subfp_rows
    from .operators.audio_fp import (
        audio_neardup_groups,
        audio_subfp_neardup_groups,
        fingerprint_clips_full,
    )

    df = spark.createDataFrame(
        build_subfp_rows(), "clip_id string, bytes binary, codec string, sr_hz int"
    )
    # one UDF execution total: the full fingerprint feeds both tiers
    # plus the final join, so cut the lineage here
    fpf = fingerprint_clips_full(df).localCheckpoint(eager=False)
    sub_g = audio_subfp_neardup_groups(fpf).withColumnRenamed(
        "group_id", "subfp_group"
    )
    fp_g = audio_neardup_groups(fpf).withColumnRenamed("group_id", "fp64_group")
    return (
        fpf.select("clip_id", "err", "n_subfp", "fp_degenerate")
        .join(sub_g, "clip_id")
        .join(fp_g, "clip_id")
    )


def _audio_increment_oracle_sql() -> str:
    """Literal expected-truth table for the incremental-ingest path
    (fixtures/audio_fp_fixtures.py INCREMENT_EXPECTED — incremental
    semantics re-derived by independent union-finds over the
    production predicates: committed groups from the base alone, the
    batch labeled against prefixed committed-group nodes)."""
    from .fixtures.audio_fp_fixtures import INCREMENT_EXPECTED

    def q(s):
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(cid)}, {q(err)}, {n}, {'TRUE' if deg else 'FALSE'},"
        f" {q(g)}, {q(d)})"
        for cid, err, n, deg, g, d in INCREMENT_EXPECTED
    )
    return f"""
    SELECT CAST(clip_id AS VARCHAR) AS clip_id,
           CAST(err AS VARCHAR) AS err,
           CAST(n_subfp AS INTEGER) AS n_subfp,
           fp_degenerate,
           CAST(group_id AS VARCHAR) AS group_id,
           CAST(decision AS VARCHAR) AS decision
    FROM (VALUES
      {rows}
    ) AS t(clip_id, err, n_subfp, fp_degenerate, group_id, decision)
    """


@query("audio_increment_docs", _audio_increment_oracle_sql())
def audio_increment_docs(spark, sf_dir):
    """Incremental audio-dedup ingest under the hard gate (late round
    8): the committed base (7 subfp-corpus rows) is fingerprinted and
    grouped once, then the increment batch (noisy twins, the 200 ms
    trim, a past-window trim, a never-seen AM duplicate pair, a
    degenerate and an error row) is matched against it with
    audio_fp_match_against (the same blocking keys + shift-scan
    verify as the self-join tier, index never self-joined) and labeled
    by assign_increment (committed groups immutable and min-wins via
    the sort-first prefix trick; unmatched new clips group among
    themselves). The frozen truth is derived INDEPENDENTLY
    (brute-force union-finds over the predicates), so the gate
    cross-checks candidate recall of the key join AND the incremental
    labeling. Not SQL-expressible (FFT), so the oracle is the
    frozen-literal pattern (audio_fp_docs).

    sf_dir is unused: the fixture corpus IS the input."""
    from .fixtures.audio_fp_fixtures import (
        INCREMENT_BASE_IDS,
        build_increment_rows,
        build_subfp_rows,
    )
    from .operators.audio_fp import (
        assign_increment,
        audio_fp_match_against,
        audio_subfp_neardup_groups,
        audio_subfp_pairs,
        fingerprint_clips_full,
    )

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    base_rows = [
        r for r in build_subfp_rows() if r[0] in INCREMENT_BASE_IDS
    ]
    # Round 9: ONE fingerprint pass over the union, split by clip_id
    # afterwards (ids are disjoint by construction; fingerprinting is
    # row-local) — the two separate mapInArrow passes each paid their
    # own stage+checkpoint latency for a handful of clips. Semantics
    # identical: same rows reach the same per-clip computation.
    base_ids = [r[0] for r in base_rows]
    fp_all = fingerprint_clips_full(
        spark.createDataFrame(base_rows + build_increment_rows(), schema)
    ).localCheckpoint(eager=False)
    idx_fp = fp_all.filter(F.col("clip_id").isin(base_ids))
    batch_fp = fp_all.filter(~F.col("clip_id").isin(base_ids))

    index_groups = audio_subfp_neardup_groups(idx_fp)
    decisions, _deferred = assign_increment(
        batch_fp,
        audio_subfp_pairs(batch_fp),
        audio_fp_match_against(idx_fp, batch_fp, tier="subfp"),
        index_groups,
    )
    return (
        batch_fp.select("clip_id", "err", "n_subfp", "fp_degenerate")
        .join(decisions.select("clip_id", "group_id", "decision"), "clip_id")
    )


def _audio_snippet_oracle_sql() -> str:
    """Literal expected-truth table for the snippet containment search
    (fixtures/audio_fp_fixtures.py SNIPPET_EXPECTED — brute-force
    scoring of every eligible query against every eligible index clip
    with the exact production predicate)."""
    from .fixtures.audio_fp_fixtures import SNIPPET_EXPECTED

    rows = ",\n      ".join(
        f"('{qid}', '{cid}', {jac}, {pos})"
        for qid, cid, jac, pos in SNIPPET_EXPECTED
    )
    return f"""
    SELECT CAST(qid AS VARCHAR) AS qid,
           CAST(clip_id AS VARCHAR) AS clip_id,
           CAST(jaccard AS DOUBLE) AS jaccard,
           CAST(pos AS INTEGER) AS pos
    FROM (VALUES
      {rows}
    ) AS t(qid, clip_id, jaccard, pos)
    """


@query("audio_snippet_docs", _audio_snippet_oracle_sql())
def audio_snippet_docs(spark, sf_dir):
    """Query-by-snippet containment search under the hard gate (late
    round 8) — the H&K retrieval case the pair tiers cannot serve: a
    3 s cut from the MIDDLE of a composite clip shares neither an fp64
    key nor the first-active probes. audio_snippet_search blocks on
    distinct value-pair shingles over the FULL streams (>= 3 shared —
    measured: true cuts share 6..21, distinct controls 0..2), then
    slides each query over each candidate stream and keeps the
    best-window bit-set Jaccard (measured margins: exact cut 1.0,
    worst-case sub-hop 0.86, 20 dB noisy 0.61 vs controls <= 0.10).
    The frozen truth is by construction — each cut matches exactly its
    source clip at the cut position in hops — and derived brute-force
    (every eligible pair scored, independent of the Spark join path,
    so the gate cross-checks blocking recall). Not SQL-expressible
    (FFT), so the oracle is the frozen-literal pattern.

    sf_dir is unused: the fixture corpus IS the input."""
    from pyspark.sql import functions as F

    from .fixtures.audio_fp_fixtures import (
        build_snippet_index_rows,
        build_snippet_query_rows,
    )
    from .operators.audio_fp import audio_snippet_search, fingerprint_clips_full

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    idx = fingerprint_clips_full(
        spark.createDataFrame(build_snippet_index_rows(), schema)
    ).localCheckpoint(eager=False)
    qs = fingerprint_clips_full(
        spark.createDataFrame(build_snippet_query_rows(), schema)
    ).localCheckpoint(eager=False)
    return audio_snippet_search(idx, qs).select(
        "qid", "clip_id", F.round("jaccard", 6).alias("jaccard"), "pos"
    )


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(Q)


def all_oracles() -> dict[str, str]:
    return dict(ORACLE)
