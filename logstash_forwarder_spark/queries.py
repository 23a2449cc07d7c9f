"""Driver-contract query registry: every SURVEY §2 operator as a
(Spark DataFrame impl, DuckDB oracle SQL) pair over /root/testdata tables.

``documents(doc_id:int64, text, lang, source, n_chars)`` plays the role of
the sequences table (FIXTURES.md §7); ``events`` supplies the stream-shaped
surface; ``lineitem`` the heavy aggregate; ``embeddings`` the ANN surface.

Conventions for oracle equality (driver sorts columns by name, hashes
values): every computed column is aliased identically on both sides; integer
outputs are BIGINT on both sides; money math goes through DECIMAL(18,2) so
sums are exact, not float; rankings order by raw columns only (no float
arithmetic before an ORDER BY tiebreak).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .operators.aggregate import last_offset_per_source
from .operators.route import route_stage

# ---------------------------------------------------------------------------
# shared rule/dim definitions (single source of truth for both sides)
# ---------------------------------------------------------------------------

# route table over documents (O-R1); predicates are SQL in BOTH engines
DOC_ROUTES: list[tuple[int, str, str]] = [
    (0, "lang = 'en' AND n_chars > 300", "sink_en_long"),
    (1, "source IN ('src0','src1','src2','src3')", "sink_low"),
    (2, "n_chars % 2 = 0", "sink_even"),
    (3, "true", "sink_default"),
]

# enrich dim (O-P3/O-J1): src0..src14 only → src15..src19 hit the left-join
# null path, coalesced to 'unknown'
DOC_DIM: list[tuple[str, str, str]] = [
    (
        f"src{i}",
        ["syslog", "apache", "app"][i % 3],
        ["prod", "dev"][i % 2],
    )
    for i in range(15)
]


def _routes_case_sql() -> str:
    branches = " ".join(
        f"WHEN {pred} THEN '{sink}'" for _, pred, sink in DOC_ROUTES[:-1]
    )
    return f"CASE {branches} ELSE '{DOC_ROUTES[-1][2]}' END"


def _dim_values_sql() -> str:
    rows = ", ".join(f"('{s}', '{t}', '{e}')" for s, t, e in DOC_DIM)
    return f"(VALUES {rows}) AS dim(source, src_type, env)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_docs`` plus a round-robin spread to the session's default
    parallelism WHEN the scan would otherwise run in fewer tasks. The
    gate corpus is ONE small parquet file (a single row-group → a single
    input split no config can subdivide), so every Python-kernel /
    Generate stage above it ran on one core while the rest idled — the
    input-skew shape of guide §2.5, fixed by "repartition immediately
    after the read". The guard makes this scale-adaptive, not a local[32]
    tune: at production scale the input arrives in >= cores splits and
    NO exchange is added (the spread costs one corpus-text shuffle only
    when the corpus is tiny enough for that to be trivially cheap).
    Round-robin repartition keeps results identical for every consumer
    here — kernels are row-local, the rest are aggregations/joins —
    and is deterministic under retries (sort-before-repartition is on).
    Only the Python-kernel / explode-heavy queries route through this;
    scan-light JVM queries keep the plain single-task scan, where an
    exchange would cost more than it buys."""
    d = _docs(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        return d.repartition(target)
    return d


def _word_count():
    """Whitespace word count of the text column (the n_tok convention used
    across the query surface — change it HERE and in every query's SQL)."""
    return F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _dim_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DOC_DIM, "source string, src_type string, env string")


# ---------------------------------------------------------------------------
# queries — parse / enrich / route / aggregate (the pipeline stages)
# ---------------------------------------------------------------------------


def q_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-P1/S2 — grok/regex-style field extraction over payload text."""
    d = _docs(spark, sf_dir)
    n_words = _word_count()
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_word"),
        F.when(F.col("text").contains("spark"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("has_spark"),
    )


SQL_PARSE_EXTRACT = """
SELECT doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
       regexp_extract(text, '^([a-z]+)', 1) AS first_word,
       CAST(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS BIGINT) AS has_spark
FROM documents
"""


def q_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-P3/O-J1 — broadcast hash-join enrich, incl. unmatched-source nulls."""
    d = _docs(spark, sf_dir)
    dim = _dim_df(spark)
    return (
        d.join(F.broadcast(dim), "source", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("src_type", F.lit("unknown")).alias("src_type"),
            F.coalesce("env", F.lit("unknown")).alias("env"),
        )
    )


SQL_ENRICH_BROADCAST = f"""
SELECT d.doc_id, d.source,
       coalesce(dim.src_type, 'unknown') AS src_type,
       coalesce(dim.env, 'unknown') AS env
FROM documents d LEFT JOIN {_dim_values_sql()} ON d.source = dim.source
"""


def q_enrich_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich then aggregate per (src_type, env) — the broadcast-join +
    agg shape. n_chars rides the enrich join directly (r8): the old form
    re-read documents and joined back on doc_id just to fetch the
    column — a whole extra join stage for a 1:1 self-attach."""
    d = _docs(spark, sf_dir)
    dim = _dim_df(spark)
    return (
        d.join(F.broadcast(dim), "source", "left")
        .groupBy(
            F.coalesce("src_type", F.lit("unknown")).alias("src_type"),
            F.coalesce("env", F.lit("unknown")).alias("env"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
    )


SQL_ENRICH_AGG = f"""
SELECT coalesce(dim.src_type, 'unknown') AS src_type,
       coalesce(dim.env, 'unknown') AS env,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.n_chars) AS BIGINT) AS chars_total
FROM documents d LEFT JOIN {_dim_values_sql()} ON d.source = dim.source
GROUP BY 1, 2
"""


def q_route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-R1 — deterministic rule routing; every row exactly one sink."""
    return route_stage(_docs(spark, sf_dir), DOC_ROUTES).select("doc_id", "sink")


SQL_ROUTE_FANOUT = f"SELECT doc_id, {_routes_case_sql()} AS sink FROM documents"


def q_sink_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-A2 — per-(sink, source) row counts and char totals."""
    routed = route_stage(_docs(spark, sf_dir), DOC_ROUTES)
    return routed.groupBy("sink", "source").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum("n_chars").alias("chars_total"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_SINK_SOURCE_COUNTS = f"""
SELECT {_routes_case_sql()} AS sink, source,
       CAST(count(*) AS BIGINT) AS row_count,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY 1, 2
"""


def q_registrar_max_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-A1 — the registrar's last-offset-per-source fold (registrar.go:12-29)."""
    return last_offset_per_source(_docs(spark, sf_dir), "doc_id")


SQL_REGISTRAR_MAX_OFFSET = (
    "SELECT source, max(doc_id) AS last_offset FROM documents GROUP BY source"
)


def q_line_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-P2 — per-source line numbering (harvester.go:32,78)."""
    w = W.partitionBy("source").orderBy("doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", F.row_number().over(w).cast("long").alias("line"))
    )


SQL_LINE_NUMBER = """
SELECT doc_id, source,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS line
FROM documents
"""


def q_dead_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — stale-data predicate pruning (prospector.go:118-140)."""
    return (
        _events(spark, sf_dir)
        .filter(F.col("ts") >= F.lit("2024-01-03 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SQL_DEAD_TIME_FILTER = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
GROUP BY event_type
"""


def q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-J2/O-X3 — checkpoint anti-join resume (prospector.go:210-237)."""
    d = _docs(spark, sf_dir)
    ck = d.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    todo = d.join(ck, "doc_id", "left_anti")
    return todo.groupBy("source").agg(F.count(F.lit(1)).alias("n_todo"))


SQL_RESUME_ANTI_JOIN = """
SELECT source, CAST(count(*) AS BIGINT) AS n_todo
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents c WHERE c.doc_id % 3 = 0 AND c.doc_id = d.doc_id)
GROUP BY source
"""


def q_spool_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-R2 — spool-size micro-batching (spooler.go:7-62, batch = 1024)."""
    e = _events(spark, sf_dir)
    return (
        e.withColumn("batch_id", F.expr("event_id DIV 1024"))
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("batch_rows"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


SQL_SPOOL_BATCHES = """
SELECT event_id // 1024 AS batch_id,
       CAST(count(*) AS BIGINT) AS batch_rows,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM events GROUP BY 1
"""


def q_kv_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-P5 — K/V frame serialization (publisher1.go:242-248), schema-on-write."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("doc="),
            F.col("doc_id").cast("string"),
            F.lit(";source="),
            F.col("source"),
            F.lit(";n="),
            F.col("n_chars").cast("string"),
        ).alias("kv"),
    )


SQL_KV_SERIALIZE = """
SELECT doc_id,
       'doc=' || CAST(doc_id AS VARCHAR) || ';source=' || source
       || ';n=' || CAST(n_chars AS VARCHAR) AS kv
FROM documents
"""


def _cents(col: F.Column) -> F.Column:
    """Exact integer cents from a double: floor(x*100 + 0.5) — the identical
    binary-double expression in both engines, so the per-row result (and
    therefore the integer sum) is bit-equal. DECIMAL is banned from compared
    outputs: engines render it differently, which breaks value hashing."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def q_pricing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy aggregate (TPC-H Q1 shape) — exact integer-cent sums, no
    DECIMAL/float in the compared output."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).cast("long").alias("sum_qty_cents"),
            F.sum(_cents(F.col("l_extendedprice")))
            .cast("long")
            .alias("sum_base_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming analog — tumbling 1h window aggregate over event time."""
    e = _events(spark, sf_dir)
    return (
        e.withColumn("hour", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH"))
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).cast("long").alias("value_cents"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON decode (config/registry codec of the reference, config.go:130 /
    registrar.go:47-48) applied to data: extract props.k, aggregate."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_total"),
            F.max("k").alias("k_max"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_JSON_PROPS = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per type — rank/window shape, integer output."""
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        _events(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "event_id")
    )


SQL_TOPK_PER_GROUP = """
SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id FROM (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rank
  FROM events) WHERE rank <= 3
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): each click matched to the
    user's latest prior-or-equal purchase. Union + ignorenulls-last window —
    one shuffle, no range explosion (operators/joins.py)."""
    from .operators.joins import asof_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = asof_join(
        clicks, purchases, on="ts", by="user_id", value_cols=["purchase_id"]
    )
    return out.select("event_id", "user_id", "purchase_id_matched")


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purchases AS (
  SELECT user_id, ts, max(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, p.purchase_id AS purchase_id_matched
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (lag + gap-flag + running sum): sessions per user with
    a 30-minute inactivity gap. The streaming-analytics shape the reference's
    event stream invites but never had."""
    e = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # timestamp difference as an interval: timezone-independent and
    # microsecond-exact in both engines (unix_timestamp would shift with
    # the session timezone and truncate to seconds)
    gap = F.col("ts") - F.lag(F.col("ts")).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_SESSIONIZE = """
SELECT user_id,
       CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events)
GROUP BY user_id
"""


PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per user-bucket event-type counts as columns."""
    e = _events(spark, sf_dir).withColumn(
        "user_bucket", F.pmod(F.col("user_id"), F.lit(10)).cast("long")
    )
    p = e.groupBy("user_bucket").pivot("event_type", PIVOT_TYPES).count()
    return p.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in PIVOT_TYPES],
    )


SQL_PIVOT_COUNTS = f"""
SELECT user_id % 10 AS user_bucket,
  {", ".join(f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}" for t in PIVOT_TYPES)}
FROM events GROUP BY 1
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (sink, source): subtotal rows coalesced to 'ALL'."""
    routed = route_stage(_docs(spark, sf_dir), DOC_ROUTES)
    return (
        routed.rollup("sink", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.coalesce("sink", F.lit("ALL")).alias("sink"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
        )
    )


SQL_ROLLUP_COUNTS = f"""
SELECT coalesce(sink, 'ALL') AS sink, coalesce(source, 'ALL') AS source,
       CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT {_routes_case_sql()} AS sink, source FROM documents)
GROUP BY ROLLUP(sink, source)
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent in the reference, free in Spark): per-source
    doc counts of (en ∪ short) minus (en ∩ short) — i.e. symmetric diff."""
    d = _docs(spark, sf_dir)
    en = d.filter(F.col("lang") == "en").select("doc_id", "source")
    short = d.filter(F.col("n_chars") < 250).select("doc_id", "source")
    sym = en.union(short).exceptAll(en.intersect(short).union(en.intersect(short)))
    return sym.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_SET_OPS = """
WITH en AS (SELECT doc_id, source FROM documents WHERE lang = 'en'),
     short AS (SELECT doc_id, source FROM documents WHERE n_chars < 250),
     sym AS (
       SELECT * FROM ((SELECT * FROM en) UNION ALL (SELECT * FROM short)) u
       EXCEPT ALL
       SELECT * FROM ((SELECT * FROM en INTERSECT SELECT * FROM short)
                      UNION ALL
                      (SELECT * FROM en INTERSECT SELECT * FROM short)) i)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM sym GROUP BY source
"""


# ---------------------------------------------------------------------------
# training-data operators: text analysis, dedup, similarity, multimodal
# ---------------------------------------------------------------------------


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import token_count_stage

    return token_count_stage(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars_calc", "n_ws_tokens", "n_bpe_tokens"
    )


SQL_TEXT_TOKENS = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import quality_stage

    return quality_stage(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "n_punct", "stop_hits", "mean_word_len_x100"
    )


def _stop_hits_sql() -> str:
    from .operators.text import EN_STOPWORDS

    terms = [
        f"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2}"
        for w in EN_STOPWORDS
    ]
    return " + ".join(terms)


SQL_TEXT_QUALITY = f"""
SELECT doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
       CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
       CAST({_stop_hits_sql()} AS BIGINT) AS stop_hits,
       CAST(CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 > 0
            THEN floor((length(text) - (length(text) - length(replace(text, ' ', '')))) * 100.0
                 / (length(text) - length(replace(text, ' ', '')) + 1))
            ELSE 0 END AS BIGINT) AS mean_word_len_x100
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import lang_id_stage

    return lang_id_stage(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def _lang_sql() -> str:
    from .operators.text import EN_STOPWORDS

    hits = " + ".join(
        f"(CASE WHEN ' ' || text || ' ' LIKE '% {w} %' THEN 1 ELSE 0 END)"
        for w in EN_STOPWORDS
    )
    return f"CASE WHEN {hits} >= 2 THEN 'en' ELSE 'unk' END"


SQL_LANG_ID = f"SELECT doc_id, {_lang_sql()} AS lang_pred FROM documents"


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import fingerprint_stage

    return fingerprint_stage(_docs(spark, sf_dir)).select("doc_id", "fp_md5")


SQL_FINGERPRINT = r"""
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_md5
FROM documents
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup accounting per source: total rows vs distinct fingerprints."""
    from .operators.text import fingerprint_stage

    return (
        fingerprint_stage(_docs(spark, sf_dir))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("fp_md5").alias("n_unique"),
        )
    )


SQL_DEDUP_EXACT = r"""
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS BIGINT) AS n_unique
FROM documents GROUP BY source
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (integer-exact threshold 20%)."""
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold_pct=20)


SQL_NGRAM_JACCARD = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
capped AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 1000),
sh AS (SELECT sh0.* FROM sh0 JOIN capped USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sh_count FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
       CAST(sa.sh_count + sb.sh_count - common AS BIGINT) AS union_size
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 100 >= 20 * (sa.sh_count + sb.sh_count - common)
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs — engine-specific hashing, rows-only check."""
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — engine-specific hashing, rows-only check.
    Chunks are materialized once (localCheckpoint) so the blocking
    self-join's two sides reuse one kernel pass over the corpus."""
    from .operators.dedup import simhash_chunks, simhash_pairs

    # spread scan: the 64×bit-unpack/cumsum kernel is the heaviest per-doc
    # Arrow pass in the registry, and the gate corpus is one input split —
    # measured 1.6 s single-task vs 0.82 s spread at sf0.1 (r8)
    d = _docs_spread(spark, sf_dir)
    chunks = simhash_chunks(d, n_chunks=8).localCheckpoint(eager=True)
    return simhash_pairs(d, max_hamming=7, n_chunks=8, chunks=chunks)


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 (queries: vec_id<5, candidates: ≥5)."""
    from .operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb.filter(F.col("vec_id") >= 5), k=5
    )
    return got.select("query_id", "rank", "neighbor_id")


SQL_SIMILARITY_TOPK = """
SELECT query_id, rank, neighbor_id FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC
         ) AS BIGINT) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 5 AND c.vec_id >= 5)
WHERE rank <= 5
"""


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 in exhaustive-probe mode (n_probe = n_cells): probing every
    Voronoi cell makes IVF EXACT, so the whole machinery — distributed
    k-means fit, kernel cell assignment, probe planning, per-cell re-rank —
    is gated against the brute-force DuckDB oracle. The approximate setting
    (n_probe < n_cells) is recall-tested in tests/test_similarity.py."""
    from .operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = ivf_topk(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 5),
        k=5,
        n_cells=16,
        n_probe=16,
    )
    return got.select("query_id", "rank", "neighbor_id")


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-5 in exhaustive-probe mode: probing every bucket
    within hamming radius = n_planes makes multi-probe LSH EXACT (every
    candidate shares some probed bucket), so the whole machinery — kernel
    signatures, probe explosion, bucket equi-join, kernel re-rank — is
    gated against the brute-force DuckDB oracle, the same trick
    q_similarity_ivf uses. The approximate setting (small radius) is
    recall-tested in tests/test_similarity.py."""
    from .operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = lsh_topk(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 5),
        k=5,
        n_planes=8,
        hamming_radius=8,
    )
    return got.select("query_id", "rank", "neighbor_id")


def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 with exact re-rank, in exhaustive-refine
    mode (refine >= |candidates|): the re-rank sees every candidate, so
    the result is EXACT through the full PQ machinery — codebook fit on a
    bounded deterministic pool, m-byte code encoding (the ~32× memory
    story at 100 TB), ADC lookup-table scoring, bounded re-rank join —
    gated against the same brute-force DuckDB oracle as IVF/LSH. The
    approximate setting (small refine) is recall-tested in
    tests/test_similarity.py and swept in BENCH/RECALL.md."""
    from .operators.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = pq_topk(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 5),
        k=5,
        refine=1_000_000,  # >= |candidates| at any gate SF → exact
        m=8,
    )
    return got.select("query_id", "rank", "neighbor_id")


def q_similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 (operators/similarity.py ivf_pq_topk) — the two ANN
    scale levers composed: the IVF coarse quantizer prunes the SEARCH to
    n_probe cells, PQ codes compress the scanned MEMORY ~32×, exact
    cosine re-rank on the bounded survivors. Registered in the provably
    exhaustive-exact regime (n_probe = n_cells, refine >= |candidates|)
    so the full machinery — distributed k-means, cell assignment,
    codebook fit/encode with cell passthrough, cell-join, ADC kernel,
    re-rank — gates against the same brute-force DuckDB oracle as
    IVF/LSH/PQ. The pruned regime's recall is measured in
    tests/test_similarity.py and BENCH/RECALL.md."""
    from .operators.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = ivf_pq_topk(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 5),
        k=5,
        n_cells=8,
        n_probe=8,  # = n_cells → every cell probed
        refine=1_000_000,  # >= |candidates| at any gate SF → exact
        m=8,
    )
    return got.select("query_id", "rank", "neighbor_id")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs via banded hyperplane LSH + exact
    verify. τ=0.5 so the oracle comparison is non-vacuous on the testdata
    (its max pairwise cosine is ≈0.513 — τ≥0.9 matches nothing and would
    "pass" with 0 rows on both sides); the low threshold takes the
    few-planes/many-bands end of the banding tradeoff (16×4: recall ≈0.97
    at cos 0.5, verified exhaustive on this data). Recall at the standard
    τ∈{0.90..0.95} settings is asserted with planted pairs in
    tests/test_similarity.py."""
    from .operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_near_dup_pairs(
        emb, threshold=0.50, dim=64, bands=16, planes_per_band=4
    ).select("vec_a", "vec_b")


SQL_EMBEDDING_NEAR_DUP = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.50
"""


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: utf-8 payload byte length (decode itself is
    stubbed; see operators/multimodal.py)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
    )


SQL_MULTIMODAL_BYTES = (
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents"
)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL raster-codec end-to-end gate (operators/codecs.py): each doc's
    text deterministically defines a constant-fill image (w = 1 + L % 16,
    h = 1 + L % 8, every pixel = L % 251, where L = utf-8 byte length).
    The Spark side ENCODES that image to genuine 24bpp BMP bytes, DECODES
    the bytes back, nearest-neighbor RESIZES to 4×3, and reports only what
    the decoded pixels say. The oracle recomputes every reported number
    with pure SQL arithmetic — including the BMP container size (54-byte
    headers + rows padded to 4 bytes) — so framing, padding, decode, and
    resize are all gated without DuckDB ever parsing a BMP. (Pixel-level
    byte-exactness on non-constant images is covered by
    tests/test_codecs.py.) mapInPandas, row-local, zero shuffle; the
    per-payload loop is the honest shape of codec work — vectorization
    lives inside each decode."""
    import numpy as np
    import pandas as pd

    from .operators.codecs import decode_image, encode_bmp, nearest_resize

    def op(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "n_bytes", "pixel_sum", "resized_sum"
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                L = len(text.encode("utf-8"))
                w, h, v = 1 + L % 16, 1 + L % 8, L % 251
                payload = encode_bmp(np.full((h, w, 3), v, np.uint8))
                img = decode_image(payload)
                rs = nearest_resize(img, 4, 3)
                out["doc_id"].append(doc_id)
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["n_bytes"].append(len(payload))
                out["pixel_sum"].append(int(img.astype(np.int64).sum()))
                out["resized_sum"].append(int(rs.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        op,
        schema="doc_id long, width long, height long, n_bytes long, "
        "pixel_sum long, resized_sum long",
    )


SQL_MEDIA_DECODE = """
SELECT doc_id,
       CAST(1 + (L % 16) AS BIGINT) AS width,
       CAST(1 + (L % 8) AS BIGINT) AS height,
       CAST(54 + ((((1 + (L % 16)) * 3 + 3) // 4) * 4) * (1 + (L % 8))
            AS BIGINT) AS n_bytes,
       CAST((1 + (L % 16)) * (1 + (L % 8)) * 3 * (L % 251) AS BIGINT)
            AS pixel_sum,
       CAST(4 * 3 * 3 * (L % 251) AS BIGINT) AS resized_sum
FROM (SELECT doc_id, octet_length(encode(text)) AS L FROM documents)
"""


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec end-to-end gate (operators/codecs.py WAV/PCM —
    the audio analog of q_media_decode's BMP gate): each doc's text
    deterministically defines an int16 sample vector (n = 8 + L % 32
    samples, sample_i = (L*31 + i*17) % 4001 - 2000, L = utf-8 byte
    length). The Spark side ENCODES it to genuine RIFF/WAVE PCM bytes,
    DECODES them back (chunk walk, header parse), and reports only what
    the decoded stream says — container size, sample count, rate from the
    header, sum and sum-of-squares of the decoded samples. The oracle
    recomputes every number with pure SQL arithmetic (44-byte canonical
    header + 2 bytes/sample; series sums), so framing and the PCM
    round-trip are gated without DuckDB parsing a WAV. mapInPandas,
    row-local, zero shuffle."""
    import numpy as np
    import pandas as pd

    from .operators.codecs import decode_wav, encode_wav

    def op(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_bytes", "n_samples", "sample_rate",
                "sample_sum", "sq_sum",
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                L = len(text.encode("utf-8"))
                n = 8 + L % 32
                i = np.arange(n, dtype=np.int64)
                samples = ((L * 31 + i * 17) % 4001 - 2000).astype(np.int16)
                payload = encode_wav(samples, sample_rate=16000)
                dec, rate = decode_wav(payload)
                d64 = dec.astype(np.int64)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                out["n_samples"].append(len(dec))
                out["sample_rate"].append(rate)
                out["sample_sum"].append(int(d64.sum()))
                out["sq_sum"].append(int((d64 * d64).sum()))
            yield pd.DataFrame(out)

    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        op,
        schema="doc_id long, n_bytes long, n_samples long, sample_rate long, "
        "sample_sum long, sq_sum long",
    )


SQL_AUDIO_DECODE = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
e AS (SELECT doc_id, L, 8 + L % 32 AS n FROM d),
s AS (
  SELECT doc_id, (L * 31 + i * 17) % 4001 - 2000 AS v
  FROM e, UNNEST(generate_series(0, n - 1)) AS t(i))
SELECT e.doc_id,
       CAST(44 + 2 * e.n AS BIGINT) AS n_bytes,
       CAST(e.n AS BIGINT) AS n_samples,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(sum(s.v) AS BIGINT) AS sample_sum,
       CAST(sum(s.v * s.v) AS BIGINT) AS sq_sum
FROM e JOIN s USING (doc_id)
GROUP BY e.doc_id, e.n
"""


def q_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-codec end-to-end gate (operators/codecs.py Y4M —
    completing the modality trio after BMP images and WAV audio): each
    doc's text deterministically defines a grayscale clip (n = 1 + L % 6
    frames of w×h = 2(1+L%4) × 2(1+L%3), frame f constant-filled with
    (L + 13f) % 251). Spark ENCODES genuine YUV4MPEG2 bytes, DECODES them
    back (header tag parse, FRAME walk, C420 chroma skip), samples every
    2nd frame — frame_sample_plan's decode step made real — and reports
    only what the decoded planes say. The oracle recomputes container
    size (35-byte single-digit header + per-frame 6 + 1.5wh) and sampled
    luma sums in pure SQL. mapInPandas, row-local, zero shuffle."""
    import numpy as np
    import pandas as pd

    from .operators.codecs import decode_y4m, encode_y4m, video_frame_features

    def op(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_bytes", "n_frames", "width", "height",
                "sampled_frames", "luma_sum",
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                L = len(text.encode("utf-8"))
                n = 1 + L % 6
                w, h = 2 * (1 + L % 4), 2 * (1 + L % 3)
                f = np.arange(n, dtype=np.int64)[:, None, None]
                frames = (
                    np.broadcast_to((L + 13 * f) % 251, (n, h, w))
                    .astype(np.uint8)
                )
                payload = encode_y4m(frames)
                dec, _fps = decode_y4m(payload)
                feats = video_frame_features(payload, every_n=2)
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                out["n_frames"].append(dec.shape[0])
                out["width"].append(dec.shape[2])
                out["height"].append(dec.shape[1])
                out["sampled_frames"].append(len(feats))
                # mean * w * h per sampled frame, from the DECODED planes
                out["luma_sum"].append(
                    int(round(float(feats[:, 1].sum()) * w * h))
                )
            yield pd.DataFrame(out)

    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        op,
        schema="doc_id long, n_bytes long, n_frames long, width long, "
        "height long, sampled_frames long, luma_sum long",
    )


SQL_VIDEO_DECODE = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
e AS (
  SELECT doc_id, L, 1 + L % 6 AS n,
         2 * (1 + L % 4) AS w, 2 * (1 + L % 3) AS h
  FROM d),
s AS (
  SELECT doc_id, (L + 13 * f) % 251 AS v
  FROM e, UNNEST(generate_series(0, n - 1, 2)) AS t(f))
SELECT e.doc_id,
       CAST(35 + e.n * (6 + (3 * e.w * e.h) // 2) AS BIGINT) AS n_bytes,
       CAST(e.n AS BIGINT) AS n_frames,
       CAST(e.w AS BIGINT) AS width,
       CAST(e.h AS BIGINT) AS height,
       CAST(count(*) AS BIGINT) AS sampled_frames,
       CAST(sum(s.v) * e.w * e.h AS BIGINT) AS luma_sum
FROM e JOIN s USING (doc_id)
GROUP BY e.doc_id, e.n, e.w, e.h
"""


def q_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy-hitters: explode → count → global top-20 with a
    deterministic tiebreak (the token-frequency stat a training-data
    pipeline computes before vocab pruning)."""
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    # orderBy(...).limit(k) compiles to TakeOrderedAndProject: per-partition
    # top-k merged at the driver — never a single-partition global window
    # over the whole vocabulary (billions of distinct tokens at 100 TB).
    # The row_number window then ranks only the k surviving rows.
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(20)
    w = W.orderBy(F.desc("n"), F.asc("word"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "word", "n"
    )


SQL_WORD_TOPK = """
SELECT CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS BIGINT) AS rank, word, n
FROM (SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word)
QUALIFY rank <= 20
"""


def q_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower-median n_chars per source on the bounded-domain
    histogram path (operators/stats.py:length_quantiles with pcts=(50,)).

    The smallest value whose cumulative count covers ceil(n/2) IS the
    lower median (0-based index (n-1)//2), so quantile_disc semantics are
    preserved bit-exactly. Scale shape: ONE hash-agg shuffle to
    |sources| x |char-length domain| histogram rows; the window runs over
    histogram rows only, never the raw data — unlike the previous
    whole-group applyInPandas, no source's full row set ever lands on a
    single worker (a 60%-hot source at 100x data would OOM one executor).
    tests/test_stats.py asserts the plan is free of
    FlatMapGroupsInPandas."""
    from .operators.stats import length_quantiles

    return length_quantiles(
        _docs(spark, sf_dir), group_col="source", value_col="n_chars", pcts=(50,)
    ).select("source", F.col("p50").alias("median_chars"), "n_docs")


SQL_GROUPED_MEDIAN = """
SELECT source,
       CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS median_chars,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# training-example assembly & corpus curation (operators/pack.py + compositions)
# ---------------------------------------------------------------------------

_N_WORDS_SQL = "length(text) - length(replace(text, ' ', '')) + 1"


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/pack.py): GPT-style stream packing of
    documents into capacity-2048 training examples; per-pack assembly stats.
    pack_id is a window-cumsum start offset DIV capacity — one shuffle on
    source, integer-exact, no sequential logic."""
    from .operators.pack import pack_stats

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        _word_count().cast("long").alias("n_tok"),
    )
    return pack_stats(d, capacity=2048).select(
        "source", "pack_id", F.col("n_docs").cast("long").alias("n_docs"), "tok_total"
    )


SQL_PACK_SEQUENCES = f"""
WITH d AS (
  SELECT doc_id, source, CAST({_N_WORDS_SQL} AS BIGINT) AS n_tok FROM documents),
s AS (
  SELECT source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
           AS start_off
  FROM d)
SELECT source, start_off // 2048 AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_total
FROM s GROUP BY source, pack_id
"""


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping chunking (operators/pack.py): window=32, stride=16 over
    each doc's word sequence — row-local sequence/posexplode/slice, all
    codegen built-ins, zero shuffle."""
    from .operators.pack import chunk_tokens

    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("tokens"))
    return chunk_tokens(d, window=32, stride=16).select(
        "doc_id",
        "chunk_id",
        "chunk_len",
        F.array_join("chunk", " ").alias("chunk_text"),
    )


SQL_CHUNK_OVERLAP = """
SELECT doc_id, off // 16 AS chunk_id,
       CAST(len(words[off+1 : off+32]) AS BIGINT) AS chunk_len,
       array_to_string(words[off+1 : off+32], ' ') AS chunk_text
FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
     LATERAL unnest(generate_series(0, len(words) - 1, 16)) AS t(off)
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (reproducible train/eval splits): keep a
    doc iff the first 8 hex digits of md5(doc_id ':' source) mod 100 < 37.
    Engine-portable (md5 is standard), seedless-stable across reruns and
    cluster sizes, and skew-free — exactly how a corpus pipeline carves
    reproducible subsets without shuffling or sorting anything."""
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), "source")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return d.filter(bucket < 37).select("doc_id", "source")


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 8))::BIGINT
      % 100 < 37
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic terms: integer-exact TF-IDF proxy
    score = tf * 1e6 DIV df (df = #sources containing the word), top-3 per
    source. Float-free so both engines rank identically; the window is
    partitioned by source (never global)."""
    d = _docs(spark, sf_dir)
    words = d.select("source", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.groupBy("word").agg(
        F.countDistinct("source").alias("df")
    )
    scored = tf.join(df_, "word").withColumn(
        "score", F.expr("tf * 1000000 DIV df")
    )
    w = W.partitionBy("source").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("source", "rank", "word", "score")
    )


SQL_TFIDF_TOPK = """
WITH words AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
tf AS (SELECT source, word, CAST(count(*) AS BIGINT) AS tf
       FROM words GROUP BY source, word),
idf AS (SELECT word, CAST(count(DISTINCT source) AS BIGINT) AS df
        FROM words GROUP BY word),
scored AS (SELECT source, word, tf * 1000000 // df AS score
           FROM tf JOIN idf USING (word))
SELECT source,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, word ASC) AS BIGINT) AS rank,
       word, score
FROM scored QUALIFY rank <= 3
"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition: language filter → length filter →
    exact dedup (operators/dedup.py, min-id keeper) → per-source survivor
    stats. The shape every corpus-cleaning job takes; one hash-agg shuffle
    for the dedup, one for the final stats."""
    from .operators.dedup import dedup_exact

    d = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & F.col("n_chars").between(50, 400)
    )
    kept = dedup_exact(d)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


SQL_CORPUS_CLEAN = """
WITH filtered AS (
  SELECT doc_id, source, n_chars,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 50 AND 400),
kept AS (
  SELECT min(doc_id) AS doc_id FROM filtered GROUP BY fp)
SELECT f.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(f.n_chars) AS BIGINT) AS total_chars
FROM filtered f JOIN kept USING (doc_id)
GROUP BY f.source
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster formation — the step after pair finding in every dedup
    pipeline: connected components (operators/graph.py min-label
    propagation) over the n-gram-Jaccard pair graph; cluster id = min
    doc_id. Oracle = a DuckDB recursive CTE reaching the same fixpoint."""
    from .operators.graph import connected_components

    pairs = q_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "cluster"
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via large-star/small-star contraction
    (connected_components_star — O(log² n) rounds independent of graph
    diameter, the web-scale alternative when pair graphs may chain).
    Identical oracle as dedup_clusters: both algorithms must reach the
    same component minima."""
    from .operators.graph import connected_components_star

    pairs = q_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components_star(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "cluster"
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({SQL_NGRAM_JACCARD})),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
)
SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster
FROM reach GROUP BY node
"""


def _materialize_fixture(
    sf_dir: str, tag: str, render: Callable[[str, str], None]
) -> str:
    """Fixture materialization, NOT part of any measured operator: build
    the fixture ``tag`` derived deterministically from ``sf_dir``'s
    documents.parquet ONCE, into ``/tmp/lfs_<tag>_<hash>``, and return
    that directory.

    The hash covers ``tag``, the path and a content fingerprint (size,
    mtime_ns) of documents.parquet: a regenerated file at the same path
    must NOT reuse stale fixtures (they would silently diverge from their
    oracle). ``render(stage, documents_path)`` writes the files into a
    per-builder-unique stage dir — two concurrent builders never
    interleave writes into one stage — published by ONE atomic rename
    with a ``_SUCCESS`` marker inside. A builder whose render fails, or
    that loses the rename race, removes its stage; the loser then uses
    the winner's directory."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    docs = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(docs)
    key = f"{tag}\x00{os.path.abspath(sf_dir)}\x00{st.st_size}\x00{st.st_mtime_ns}"
    digest = hashlib.md5(key.encode()).hexdigest()[:12]
    out = os.path.join("/tmp", f"lfs_{tag}_{digest}")
    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        return out
    # NEVER rmtree(out): a concurrent builder may have published between
    # the _SUCCESS check and here, and deleting a complete dir another
    # driver is already globbing is the worse failure. An out dir without
    # _SUCCESS can only be foreign debris — move it aside.
    if os.path.exists(out):
        try:
            os.rename(out, f"{out}.broken.{uuid.uuid4().hex[:8]}")
        except OSError:
            if os.path.exists(done):
                return out  # a concurrent builder published meanwhile
    stage = tempfile.mkdtemp(prefix=os.path.basename(out) + ".stage.", dir="/tmp")
    try:
        render(stage, docs)
        open(os.path.join(stage, "_SUCCESS"), "w").close()
        os.rename(stage, out)
    except OSError:
        if not os.path.exists(done):
            raise
    finally:  # a no-op once the rename has published the stage
        shutil.rmtree(stage, ignore_errors=True)
    return out


def _materialize_log_files(sf_dir: str) -> str:
    """One ``<source>.log`` per source (lines = texts in doc_id order,
    '\\n'-terminated), derived deterministically from documents.parquet so
    the harvest below is oracle-checkable (:func:`_materialize_fixture`)."""

    def render(stage: str, docs: str) -> None:
        import os

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.read_table(docs, columns=["doc_id", "source", "text"]).sort_by(
            [("source", "ascending"), ("doc_id", "ascending")]
        )
        for src in pc.unique(tbl["source"]).to_pylist():
            texts = tbl.filter(pc.equal(tbl["source"], src))["text"].to_pylist()
            with open(os.path.join(stage, f"{src}.log"), "wb") as fh:
                fh.write(("".join(t + "\n" for t in texts)).encode())

    return _materialize_fixture(sf_dir, "harvest", render)


def _materialize_jsonl_files(sf_dir: str) -> str:
    """One ``<source>.jsonl`` per source (one JSON object per line with
    doc_id/text/lang, doc_id order), derived deterministically from
    documents.parquet (:func:`_materialize_fixture`)."""

    def render(stage: str, docs: str) -> None:
        import json
        import os

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            docs, columns=["doc_id", "source", "text", "lang"]
        ).sort_by([("source", "ascending"), ("doc_id", "ascending")])
        for src in pc.unique(tbl["source"]).to_pylist():
            part = tbl.filter(pc.equal(tbl["source"], src))
            with open(os.path.join(stage, f"{src}.jsonl"), "w") as fh:
                for d, t, lg in zip(
                    part["doc_id"].to_pylist(),
                    part["text"].to_pylist(),
                    part["lang"].to_pylist(),
                ):
                    fh.write(json.dumps({"doc_id": d, "text": t, "lang": lg}) + "\n")

    return _materialize_fixture(sf_dir, "jsonl", render)


def q_json_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-event ingestion (sources/jsonlog.py): JSONL files read
    under an explicit schema with PERMISSIVE corrupt-record quarantine;
    the JSON escape round-trip must reproduce every document exactly.
    Oracle recomputes straight from the documents table."""
    from .sources.jsonlog import read_json_events, split_corrupt

    files_dir = _materialize_jsonl_files(sf_dir)
    events = read_json_events(
        spark, f"{files_dir}/*.jsonl", "doc_id long, text string, lang string"
    )
    clean, _quarantine = split_corrupt(events)
    return clean.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars_rt")
    )


SQL_JSON_HARVEST = """
SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars_rt FROM documents
"""


def q_harvest_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S3 in their native form: glob-discover raw .log files, split
    lines inside a mapInArrow kernel, emit byte-exact offsets (the
    registrar's resume currency). Oracle = the same lines/offsets computed
    relationally from the documents table (sources/textlog.py)."""
    from .sources.textlog import harvest_text_files

    files_dir = _materialize_log_files(sf_dir)
    h = harvest_text_files(spark, f"{files_dir}/*.log")
    return h.select(
        F.regexp_extract("file", r"([^/]+)\.log$", 1).alias("source"),
        "line_no",
        "byte_offset",
        F.col("line"),
    )


SQL_HARVEST_LINES = """
SELECT source,
       CAST(row_number() OVER w - 1 AS BIGINT) AS line_no,
       CAST(sum(octet_length(encode(text)) + 1) OVER w2
            - (octet_length(encode(text)) + 1) AS BIGINT) AS byte_offset,
       text AS line
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY doc_id),
       w2 AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curate.py): per-corpus-doc count
    of distinct word 3-grams shared with a benchmark split (doc_id % 97 = 0
    — the tiny eval-set analog). Benchmark shingle set broadcast; corpus
    scanned map-side; only the hits shuffle."""
    from .operators.curate import contamination_report

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(corpus, bench)


SQL_DECONTAMINATE = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM sh s JOIN bench USING (shingle)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule (operators/curate.py): per-doc
    duplicate word-3-gram counts + integer-exact keep flag, computed
    row-locally inside the scan by the dedup Arrow shingle kernel."""
    from .operators.curate import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), max_dup_pct=30)


SQL_REPETITION = r"""
WITH words AS (
  -- coalesce: the Spark kernel fill_nulls text to '' (1 empty word, same
  -- as split('') on both engines); NULL here would diverge to NULL n_words
  SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
g AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
st AS (
  SELECT doc_id, count(*) AS total_grams, count(DISTINCT gram) AS distinct_grams
  FROM g GROUP BY doc_id)
SELECT w.doc_id,
       CAST(len(w.w) AS BIGINT) AS n_words,
       CAST(coalesce(st.total_grams, 0) AS BIGINT) AS total_grams,
       CAST(coalesce(st.distinct_grams, 0) AS BIGINT) AS distinct_grams,
       CAST(CASE WHEN (coalesce(st.total_grams, 0) - coalesce(st.distinct_grams, 0)) * 100
                      <= 30 * coalesce(st.total_grams, 0)
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM words w LEFT JOIN st USING (doc_id)
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab frequency table (operators/curate.py): top-100 corpus words with
    rank, count, cumulative count and integer cumulative ppm — the
    vocab-cutoff op. Distributed hash-agg; window over only the top-k."""
    from .operators.curate import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir), top_k=100)


SQL_VOCAB_COVERAGE = r"""
WITH words AS (
  SELECT regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
tok AS (SELECT unnest(w) AS word FROM words),
cnt AS (SELECT word, count(*) AS c FROM tok WHERE word <> '' GROUP BY word),
tot AS (SELECT sum(c) AS t FROM cnt),
top AS (
  SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rnk
  FROM cnt QUALIFY rnk <= 100)
SELECT CAST(rnk AS BIGINT) AS rank, word, CAST(c AS BIGINT) AS cnt,
       CAST(sum(c) OVER (ORDER BY rnk) AS BIGINT) AS cum_cnt,
       CAST(floor(CAST(sum(c) OVER (ORDER BY rnk) AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0) AS BIGINT) AS cum_ppm
FROM top, tot
"""


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source sequence-length quantiles via bounded-domain
    histogram (operators/stats.py): one shuffle builds the (source, n_tok)
    histogram — size independent of row count — then windows run over at
    most |domain| rows per source, never the raw data. The scale-correct
    exact alternative to approx_percentile when the domain is bounded."""
    from .operators.stats import length_quantiles

    d = _docs(spark, sf_dir).select(
        "source",
        _word_count().cast("long").alias("n_tok"),
    )
    return length_quantiles(
        d, group_col="source", value_col="n_tok", pcts=(25, 50, 75, 95)
    )


SQL_TOKEN_QUANTILES = """
WITH d AS (
  SELECT source,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
  FROM documents),
h AS (SELECT source, n_tok, count(*) AS cnt FROM d
      WHERE n_tok IS NOT NULL GROUP BY source, n_tok),
c AS (SELECT source, n_tok,
             sum(cnt) OVER (PARTITION BY source ORDER BY n_tok) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM h)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN cum*100 >= 25*n THEN n_tok END) AS BIGINT) AS p25,
       CAST(min(CASE WHEN cum*100 >= 50*n THEN n_tok END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum*100 >= 75*n THEN n_tok END) AS BIGINT) AS p75,
       CAST(min(CASE WHEN cum*100 >= 95*n THEN n_tok END) AS BIGINT) AS p95
FROM c GROUP BY source
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py redact_stage): digit-run redaction
    over event props with per-row redaction counts. Row-local codegen
    built-ins (regexp_replace + regexp_extract_all), zero shuffle."""
    from .operators.text import redact_stage

    return redact_stage(_events(spark, sf_dir), "props").select(
        "event_id", "redacted", "n_redactions"
    )


SQL_PII_REDACT = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redactions
FROM events
"""


def q_shift_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal-LM training-pair construction (operators/pack.py
    shift_labels): input_ids = tokens[:-1], labels = tokens[1:], emitted
    as joined strings for engine-neutral comparison. Row-local slice
    built-ins, zero shuffle."""
    from .operators.pack import shift_labels

    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("tokens"))
    return shift_labels(d).select(
        "doc_id",
        F.array_join("input_ids", " ").alias("input_text"),
        F.array_join("labels", " ").alias("label_text"),
        "pair_len",
    )


SQL_SHIFT_LABELS = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       coalesce(array_to_string(w[1:len(w)-1], ' '), '') AS input_text,
       coalesce(array_to_string(w[2:len(w)], ' '), '') AS label_text,
       CAST(greatest(len(w) - 1, 0) AS BIGINT) AS pair_len
FROM d
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing rebalance (operators/stats.py mixture_weights):
    per-source token share + keep-probability ppm that downsamples every
    over-budget source to a uniform token budget. One hash-agg shuffle to
    |sources| rows; identical IEEE double op sequence on both engines."""
    from .operators.stats import mixture_weights

    d = _docs(spark, sf_dir).select(
        "source",
        _word_count().cast("long").alias("n_tok"),
    )
    return mixture_weights(d)


SQL_MIXTURE_WEIGHTS = """
WITH d AS (
  SELECT source,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
  FROM documents),
per AS (SELECT source, sum(n_tok) AS tok FROM d GROUP BY source),
tot AS (SELECT sum(tok) AS t, count(*) AS k FROM per)
SELECT source, CAST(tok AS BIGINT) AS tok_total,
       CAST(floor(CAST(tok AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0) AS BIGINT) AS share_ppm,
       least(CAST(1000000 AS BIGINT),
             CAST(floor(CAST(t AS DOUBLE) / CAST(k AS DOUBLE) / CAST(tok AS DOUBLE) * 1000000.0) AS BIGINT)) AS weight_ppm
FROM per, tot
"""


def q_rebalance_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end domain rebalance: mixture_weights broadcast back onto the
    corpus, applied as a deterministic md5 Bernoulli (engine-portable,
    seedless-stable, parallelism-invariant), survivor counts per source.
    The corpus-side path is map-only: broadcast join + filter — the only
    shuffles are the tiny weights agg and the final per-source count."""
    from .operators.stats import mixture_weights

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        _word_count().cast("long").alias("n_tok"),
    )
    w = mixture_weights(d).select("source", "weight_ppm")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), "source")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    kept = d.join(F.broadcast(w), "source").filter(bucket < F.col("weight_ppm"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tok").cast("long").alias("tok_kept"),
    )


SQL_REBALANCE_CORPUS = """
WITH d AS (
  SELECT doc_id, source,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
  FROM documents),
per AS (SELECT source, sum(n_tok) AS tok FROM d GROUP BY source),
tot AS (SELECT sum(tok) AS t, count(*) AS k FROM per),
w AS (SELECT source,
             least(CAST(1000000 AS BIGINT),
                   CAST(floor(CAST(t AS DOUBLE) / CAST(k AS DOUBLE) / CAST(tok AS DOUBLE) * 1000000.0) AS BIGINT)) AS weight_ppm
      FROM per, tot),
kept AS (
  SELECT d.source, d.n_tok
  FROM d JOIN w USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.source), 1, 8))::BIGINT
        % 1000000 < w.weight_ppm)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tok_kept
FROM kept GROUP BY source
"""


def q_edit_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup verify stage (operators/dedup.py edit_near_dup_pairs):
    length-bucket blocking + banded exact Levenshtein (3-arg threshold
    form caps the DP cost per pair). The blocked candidate set and the
    distance are replicated exactly in the oracle SQL."""
    from .operators.dedup import edit_near_dup_pairs

    return edit_near_dup_pairs(_docs(spark, sf_dir))


SQL_EDIT_NEAR_DUP = r"""
WITH d AS (
  SELECT doc_id, source,
         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents),
b0 AS (SELECT doc_id, source, t, length(t) // 16 AS lb FROM d),
ok AS (SELECT source, lb FROM b0 GROUP BY source, lb HAVING count(*) <= 10000),
b AS (SELECT b0.* FROM b0 JOIN ok USING (source, lb))
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(levenshtein(a.t, c.t) AS BIGINT) AS dist
FROM b a JOIN b c ON a.source = c.source AND a.lb = c.lb AND a.doc_id < c.doc_id
WHERE levenshtein(a.t, c.t) <= 70
"""


MINHASH_P = 1073741789  # prime < 2^30: a*h + b stays < 2^60 (BIGINT-safe)
# fixed (a, b) per permutation — small odd multipliers, engine-portable
MINHASH_PERMS = [
    (389, 104729), (761, 95819), (1223, 88643), (1543, 71993),
    (2029, 64763), (2467, 51787), (3163, 39119), (3571, 27397),
]


def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable MinHash witness: 8-permutation signature matrix.
    Universal-hashing form: ONE md5 per shingle (h = first 15 hex digits
    mod P) and 8 affine permutations h_p = (a_p * h + b_p) mod P over the
    prime P = 1073741789 < 2^30 (products stay < 2^60, BIGINT-safe in any
    engine) — so DuckDB reproduces every signature bit-exactly, closing
    the 'rows-only' gap of the fast kernel path (`minhash_lsh`), whose
    xxhash family is engine-specific by design.

    Spark computes the signatures ROW-LOCALLY in one mapInPandas kernel
    (operators/dedup.py portable_sketches — zero shuffle, partitioning
    preserved) while the oracle uses an explode + GROUP BY min: two
    opposite physical strategies, identical values. The same math as a
    pure expression tree (8 transform/array_min HOF folds) produced the
    same values ~10x slower — HOFs are interpreted (CLAUDE.md)."""
    from .operators.dedup import portable_sketches

    return portable_sketches(
        _docs(spark, sf_dir), minhash_p=MINHASH_P, minhash_perms=MINHASH_PERMS
    ).select("doc_id", *[f"sig{p}" for p in range(8)])


SQL_MINHASH_PORTABLE = r"""
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1073741789 AS h
  FROM sh),
sig AS (
  SELECT doc_id,
         min((h * 389 + 104729) % 1073741789) AS sig0,
         min((h * 761 + 95819) % 1073741789) AS sig1,
         min((h * 1223 + 88643) % 1073741789) AS sig2,
         min((h * 1543 + 71993) % 1073741789) AS sig3,
         min((h * 2029 + 64763) % 1073741789) AS sig4,
         min((h * 2467 + 51787) % 1073741789) AS sig5,
         min((h * 3163 + 39119) % 1073741789) AS sig6,
         min((h * 3571 + 27397) % 1073741789) AS sig7
  FROM h GROUP BY doc_id)
SELECT w.doc_id, sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7
FROM words w LEFT JOIN sig USING (doc_id)
"""


def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable SimHash witness: 32-bit signature from md5-derived
    shingle hashes — bit b is set iff at least half the doc's distinct
    shingles have bit b set (2*cnt_b >= n, ties up on both engines).
    Spark side = the portable_sketches mapInPandas kernel (row-local,
    zero shuffle; the 32-HOF-filter expression formulation computed the
    same values ~10x slower); the oracle is an explode + GROUP BY with
    32 conditional sums. Complements `simhash` (fast Arrow-kernel path,
    engine-specific)."""
    from .operators.dedup import portable_sketches

    return portable_sketches(
        _docs(spark, sf_dir), minhash_p=MINHASH_P, minhash_perms=MINHASH_PERMS
    ).select("doc_id", "simhash32")


_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN 2 * sum((h // {1 << b}) % 2) >= count(*) THEN {1 << b} ELSE 0 END)"
    for b in range(32)
)

SQL_SIMHASH_PORTABLE = rf"""
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
sig AS (SELECT doc_id, CAST({_SIMHASH_BITS_SQL} AS BIGINT) AS simhash32
        FROM h GROUP BY doc_id)
SELECT w.doc_id, sig.simhash32
FROM words w LEFT JOIN sig USING (doc_id)
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup triage (operators/dedup.py span_share_stats): per
    doc, how many of its distinct word 8-grams occur in other docs, with
    integer ppm rate — the stat behind exact-substring dedup. Kernel
    shingle relation + one gram-keyed exchange; no pair enumeration."""
    from .operators.dedup import span_share_stats

    return span_share_stats(_docs(spark, sf_dir), n=8, min_df=2)


SQL_SPAN_DEDUP = r"""
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7] AS gram
  FROM words, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8),
dfq AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
per AS (SELECT g.doc_id, count(*) AS n_grams,
               sum(CASE WHEN dfq.gdf >= 2 THEN 1 ELSE 0 END) AS n_shared
        FROM g JOIN dfq USING (gram) GROUP BY g.doc_id)
SELECT w.doc_id,
       CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(per.n_shared, 0) AS BIGINT) AS n_shared_grams,
       CAST(CASE WHEN coalesce(per.n_grams, 0) > 0
                 THEN per.n_shared * 1000000 // per.n_grams ELSE 0 END AS BIGINT) AS shared_ppm
FROM words w LEFT JOIN per USING (doc_id)
"""


def q_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring REMOVAL (operators/dedup.py span_cut):
    duplicated word 8-grams keep their globally-first occurrence, every
    other occurrence is cut, covered words drop out, and the surviving
    text is reassembled — the operation the `span_dedup` triage stat
    motivates (Lee et al.). One sh-keyed exchange (row_number per gram) +
    one doc-keyed exchange (dense-position coverage max + reassembly)."""
    from .operators.dedup import span_cut

    return span_cut(_docs(spark, sf_dir), n=8)


SQL_SPAN_CUT = r"""
WITH words0 AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
words AS (
  SELECT doc_id, i - 1 AS w_pos, w[i] AS word
  FROM words0, UNNEST(generate_series(1, len(w))) AS t(i)),
occ AS (
  SELECT doc_id, i - 1 AS pos,
         w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7] AS gram
  FROM words0, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8),
spans AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM occ)
  WHERE rn >= 2),
cov AS (
  SELECT w.doc_id, w.w_pos, w.word,
         max(CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY w.doc_id ORDER BY w.w_pos
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
  FROM words w LEFT JOIN spans s ON s.doc_id = w.doc_id AND s.pos = w.w_pos)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(covered) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN covered = 0 THEN word END, ' ' ORDER BY w_pos), '') AS kept_text
FROM cov GROUP BY doc_id
"""


def q_assemble_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training examples (operators/pack.py
    assemble_packs): per (source, pack_id), member token arrays
    concatenated in stream order — the canonical LEGITIMATE grouped-map
    applyInPandas (pack groups are capacity-bounded by construction, so
    no group can outgrow a worker; contrast VERDICT r3 #2).

    The REGISTERED query projects the array through ``array_join`` because
    the driver's canonicalizer cannot hash array-valued cells (VERDICT r4
    #1); production callers use the operator directly and keep the array."""
    from .operators.pack import assemble_packs

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.split("text", " ").alias("tokens"),
        _word_count().cast("long").alias("n_tok"),
    )
    return assemble_packs(d, capacity=2048).select(
        "source",
        "pack_id",
        "n_docs",
        "tok_total",
        F.array_join("packed", " ").alias("packed_text"),
    )


# DuckDB array_to_string of an EMPTY list is NULL while Spark array_join is
# '' — coalesce (CLAUDE.md round-2 gotcha), though packs are non-empty here.
SQL_ASSEMBLE_PACKS = f"""
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS w,
         CAST({_N_WORDS_SQL} AS BIGINT) AS n_tok
  FROM documents),
p AS (
  SELECT doc_id, source, w, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
              AS BIGINT) // 2048 AS pack_id
  FROM d)
SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_total,
       coalesce(array_to_string(flatten(list(w ORDER BY doc_id)), ' '), '')
         AS packed_text
FROM p GROUP BY source, pack_id
"""


def _materialize_access_logs(sf_dir: str) -> str:
    """Apache-combined-style access log derived ARITHMETICALLY from
    documents.parquet (ip/ts/method/path/status/bytes are pure functions
    of doc_id and n_chars), so a grok parse of the rendered lines is
    oracle-checkable without the oracle ever parsing a line — the same
    trick as media_decode's BMP gate (:func:`_materialize_fixture`)."""

    def render(stage: str, docs: str) -> None:
        import datetime as _dt
        import os

        import pyarrow.parquet as pq

        tbl = pq.read_table(docs, columns=["doc_id", "n_chars"]).sort_by(
            [("doc_id", "ascending")]
        )
        base = _dt.datetime(2024, 1, 1)
        methods = ("GET", "POST", "PUT")
        statuses = (200, 301, 404, 500)
        lines = []
        for d, n in zip(
            tbl.column("doc_id").to_pylist(), tbl.column("n_chars").to_pylist()
        ):
            ip = f"10.{(d >> 16) % 256}.{(d >> 8) % 256}.{d % 256}"
            iso = (base + _dt.timedelta(seconds=d)).strftime("%Y-%m-%dT%H:%M:%S")
            lines.append(
                f'{ip} - - [{iso}] "{methods[d % 3]} /d/{d} HTTP/1.1" '
                f"{statuses[n % 4]} {n}\n"
            )
        with open(os.path.join(stage, "access.log"), "w") as fh:
            fh.writelines(lines)

    return _materialize_fixture(sf_dir, "access", render)


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok named-pattern parsing (operators/grok.py — the logstash idiom
    the north star names): harvest a genuine Apache-style access log and
    grok it with `%{IP} ... %{TIMESTAMP_ISO8601} "%{HTTPMETHOD}
    %{URIPATH}" %{INT} %{INT}` compiled to ONE combined JVM regex. The
    fixture's fields are pure functions of (doc_id, n_chars), so the
    oracle recomputes every extracted value arithmetically — render,
    harvest, pattern compile, extraction and :int typing are all gated
    without DuckDB parsing a line. Row-local, zero shuffle, zero Python."""
    from .operators.grok import grok_extract
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_access_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    g = grok_extract(
        lines,
        r'%{IP:client} - - \[%{TIMESTAMP_ISO8601:ts}\] '
        r'"%{HTTPMETHOD:method} %{URIPATH:path} HTTP/1\.1" '
        r"%{INT:status:int} %{INT:bytes:int}",
        text_col="line",
    )
    return g.select(
        F.regexp_extract("path", r"/d/(\d+)", 1).cast("long").alias("doc_id"),
        "client",
        "ts",
        "method",
        "status",
        "bytes",
    )


_MONTH_ABBR = (
    "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
)


def _materialize_combined_logs(sf_dir: str) -> str:
    """Combined-Apache-format access log (clf timestamp, quoted
    referrer/agent) derived ARITHMETICALLY from documents.parquet — same
    oracle trick as _materialize_access_logs. Month names are rendered
    from an explicit table (locale-proof), matching DuckDB's C-locale
    strftime %b."""

    def render(stage: str, docs: str) -> None:
        import datetime as _dt
        import os

        import pyarrow.parquet as pq

        tbl = pq.read_table(docs, columns=["doc_id", "n_chars"]).sort_by(
            [("doc_id", "ascending")]
        )
        base = _dt.datetime(2024, 1, 1)
        methods = ("GET", "POST", "PUT")
        statuses = (200, 301, 404, 500)
        lines = []
        for d, n in zip(
            tbl.column("doc_id").to_pylist(), tbl.column("n_chars").to_pylist()
        ):
            ip = f"10.{(d >> 16) % 256}.{(d >> 8) % 256}.{d % 256}"
            t = base + _dt.timedelta(seconds=d)
            clf = (
                f"{t.day:02d}/{_MONTH_ABBR[t.month - 1]}/{t.year:04d}"
                f":{t.hour:02d}:{t.minute:02d}:{t.second:02d} +0000"
            )
            lines.append(
                f'{ip} - u{d % 97} [{clf}] "{methods[d % 3]} /d/{d} HTTP/1.1" '
                f'{statuses[n % 4]} {n} "http://r.example/{d % 10}" '
                f'"Mozilla/5.0 (X11; rv:{n % 7}) Engine/{n % 5}"\n'
            )
        with open(os.path.join(stage, "combined.log"), "w") as fh:
            fh.writelines(lines)

    return _materialize_fixture(sf_dir, "combined", render)


def q_grok_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok COMPOSITE-pattern parsing (operators/grok.py, r5): harvest a
    genuine combined-format access log and parse it with the single
    library token `%{COMBINEDAPACHELOG}` — the recursive pattern
    expansion (composites referencing composites: IPORHOST, HTTPDUSER,
    HTTPDATE, QS) compiles to ONE JVM regex with positional groups,
    group-count-verified at compile time. Every extracted field is a pure
    function of (doc_id, n_chars), so the oracle recomputes them all
    arithmetically without parsing a line. Row-local, zero shuffle,
    zero Python."""
    from .operators.grok import grok_extract
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_combined_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    g = grok_extract(lines, "%{COMBINEDAPACHELOG}", text_col="line")
    return g.select(
        F.regexp_extract("request", r"/d/(\d+)", 1).cast("long").alias("doc_id"),
        "clientip",
        "auth",
        F.col("timestamp").alias("clf_ts"),
        "verb",
        "request",
        "httpversion",
        "response",
        "bytes",
        "referrer",
        "agent",
    )


SQL_GROK_COMBINED = """
SELECT doc_id,
       '10.' || ((doc_id // 65536) % 256) || '.' || ((doc_id // 256) % 256)
            || '.' || (doc_id % 256) AS clientip,
       'u' || (doc_id % 97) AS auth,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND,
                '%d/%b/%Y:%H:%M:%S') || ' +0000' AS clf_ts,
       CASE doc_id % 3 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'PUT' END AS verb,
       '/d/' || doc_id AS request,
       '1.1' AS httpversion,
       CAST(CASE n_chars % 4 WHEN 0 THEN 200 WHEN 1 THEN 301
                             WHEN 2 THEN 404 ELSE 500 END AS BIGINT) AS response,
       CAST(n_chars AS BIGINT) AS bytes,
       '"http://r.example/' || (doc_id % 10) || '"' AS referrer,
       '"Mozilla/5.0 (X11; rv:' || (n_chars % 7) || ') Engine/'
            || (n_chars % 5) || '"' AS agent
FROM documents
"""


SQL_GROK_PARSE = """
SELECT doc_id,
       '10.' || ((doc_id // 65536) % 256) || '.' || ((doc_id // 256) % 256)
            || '.' || (doc_id % 256) AS client,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND,
                '%Y-%m-%dT%H:%M:%S') AS ts,
       CASE doc_id % 3 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'PUT' END AS method,
       CAST(CASE n_chars % 4 WHEN 0 THEN 200 WHEN 1 THEN 301
                             WHEN 2 THEN 404 ELSE 500 END AS BIGINT) AS status,
       CAST(n_chars AS BIGINT) AS bytes
FROM documents
"""


def q_dissect_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissect positional parsing (operators/dissect.py — logstash's
    regex-free fast path for fixed layouts): the SAME access-log fixture
    grok_parse regex-parses is split here on literal delimiters alone —
    chained substring_index/substr, whole-stage codegen, zero regex in
    the extraction, zero Python. Same output shape and arithmetic oracle
    as grok_parse, so the two parsers gate each other."""
    from .operators.dissect import dissect_extract
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_access_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    d = dissect_extract(
        lines,
        '%{client} - - [%{ts}] "%{method} %{path} HTTP/1.1" '
        "%{status:int} %{bytes:int}",
        text_col="line",
    )
    return d.select(
        F.substring_index("path", "/", -1).cast("long").alias("doc_id"),
        "client",
        "ts",
        "method",
        "status",
        "bytes",
    )


def _materialize_multiline_logs(sf_dir: str) -> str:
    """Stack-trace-shaped multiline log derived ARITHMETICALLY from
    documents.parquet: each doc_id renders one event of 1 + doc_id % 4
    lines (an `EV doc_id=<id> n=<L>` head + indented `    at frame
    <id>.<j>` continuations), sharded into 8 files by doc_id % 8 in
    doc_id order — so the assembled events are pure functions of doc_id
    and the oracle reconstructs every message without parsing a line
    (:func:`_materialize_fixture`)."""

    def render(stage: str, docs: str) -> None:
        import os

        import pyarrow.parquet as pq

        tbl = pq.read_table(docs, columns=["doc_id"]).sort_by([("doc_id", "ascending")])
        shards: list[list[str]] = [[] for _ in range(8)]
        for d in tbl.column("doc_id").to_pylist():
            n = 1 + d % 4
            sh = shards[d % 8]
            sh.append(f"EV doc_id={d} n={n}\n")
            for j in range(1, n):
                sh.append(f"    at frame {d}.{j}\n")
        for s, sh in enumerate(shards):
            with open(os.path.join(stage, f"ml_{s}.log"), "w") as fh:
                fh.writelines(sh)

    return _materialize_fixture(sf_dir, "multiline", render)


def q_multiline_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline event assembly (operators/multiline.py — the logstash
    multiline codec the forwarder's single-line shipping defers
    downstream): harvest a stack-trace-shaped fixture and fold
    continuation lines into events via the start-marker running count +
    one (file, event_no) hash-agg. Every assembled message is a pure
    function of doc_id, so the oracle rebuilds it arithmetically —
    harvest order, window fold and in-order re-join are all gated."""
    from .operators.multiline import multiline_assemble
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_multiline_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    ev = multiline_assemble(lines)
    return ev.filter(~F.col("is_orphan")).select(
        F.regexp_extract("message", r"^EV doc_id=(\d+) ", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("n_lines").cast("long").alias("n_lines"),
        "message",
    )


SQL_MULTILINE = """
SELECT doc_id,
       CAST(1 + doc_id % 4 AS BIGINT) AS n_lines,
       'EV doc_id=' || doc_id || ' n=' || (1 + doc_id % 4) ||
       coalesce(chr(10) || array_to_string(
           list_transform(generate_series(1, doc_id % 4),
                          j -> '    at frame ' || doc_id || '.' || j),
           chr(10)), '') AS message
FROM documents
"""


def q_ip_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoIP-style CIDR-range enrichment (the logstash geoip filter with
    a deterministic stand-in database — no GeoIP db ships in this image):
    dotted-quad → uint32 in pure JVM arithmetic, then a range lookup
    against a 4096-block interval table via range_bucket_join
    (operators/joins.py) — intervals explode into ≤2 bucket keys, the
    join is a bucket equi-join + exact range filter, never a cross
    product. The block table is CONSTANT-size at any SF (the GeoIP-db
    shape), so AQE broadcasts it; the fixture's IPs are pure functions
    of doc_id, so the oracle recomputes the joined block label
    arithmetically — conversion, bucketing and range semantics all
    gated."""
    from .operators.joins import range_bucket_join
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_access_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    client = F.substring_index("line", " ", 1)
    from .operators.fieldops import ipv4_to_long

    logs = lines.select(
        client.alias("client"), ipv4_to_long(client).alias("ip_num")
    )
    base = 10 * 16777216  # fixture IPs are 10.x.y.z
    dim = spark.range(0, 4096).select(
        (F.lit(base) + F.col("id") * 1000).alias("ip_lo"),
        (F.lit(base) + F.col("id") * 1000 + 999).alias("ip_hi"),
        F.concat(F.lit("blk_"), F.col("id")).alias("block"),
    )
    j = range_bucket_join(
        logs,
        dim,
        left_point="ip_num",
        right_lo="ip_lo",
        right_hi="ip_hi",
        bucket_width=4096,
    )
    return j.select(
        (F.col("ip_num") - F.lit(base)).cast("long").alias("doc_id"),
        "client",
        "block",
    )


SQL_IP_RANGE_LOOKUP = """
SELECT doc_id,
       '10.' || ((doc_id // 65536) % 256) || '.' || ((doc_id // 256) % 256)
            || '.' || (doc_id % 256) AS client,
       'blk_' || (doc_id // 1000) AS block
FROM documents
"""


def q_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rate cap (operators/eventops.py throttle — the logstash
    throttle filter): first event per user per day passes, the rest are
    flagged; reported as per-user totals. The row_number window
    partitions on (user, day) — bounded by exactly the hot-key volume
    the cap exists to contain, never a whole-stream sort."""
    from .operators.eventops import throttle

    t = throttle(
        _events(spark, sf_dir),
        key_col="user_id",
        ts_col="ts",
        period="day",
        max_per_period=1,
    )
    return t.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("throttled").cast("long")).alias("n_throttled"),
    )


SQL_THROTTLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled
FROM (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events)
GROUP BY user_id
"""


def q_elapsed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Start/end span pairing (operators/eventops.py elapsed — the
    logstash elapsed filter): each user's first signup paired with the
    earliest purchase at-or-after it; microsecond-exact latency. Two
    map-side-combinable hash-aggs + one key equi-join — never a window
    over the raw interleaved stream. Timestamps compared as formatted
    strings (house rule: no raw timestamp columns in compared output)."""
    from .operators.eventops import elapsed

    el = elapsed(
        _events(spark, sf_dir),
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        start_type="signup",
        end_type="purchase",
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return el.select(
        "user_id",
        F.date_format("start_ts", fmt).alias("start_ts"),
        F.date_format("end_ts", fmt).alias("end_ts"),
        "elapsed_us",
    )


SQL_ELAPSED = """
WITH s AS (
  SELECT user_id, min(ts) AS start_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
p AS (
  SELECT s.user_id, s.start_ts, min(e.ts) AS end_ts
  FROM s LEFT JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.start_ts
  GROUP BY s.user_id, s.start_ts)
SELECT user_id,
       strftime(start_ts, '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
       strftime(end_ts, '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
       CAST(date_diff('microsecond', start_ts, end_ts) AS BIGINT) AS elapsed_us
FROM p
"""


def q_aggregate_correlate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-event task correlation (operators/eventops.py
    aggregate_correlate — the logstash aggregate filter's
    push-map-as-event-on-task-end mode): per user, every purchase closes a
    span that accumulated all events since the previous purchase; one
    summary row per closed span with event count, exact-integer cents sum,
    and microsecond start→end latency. ONE exchange on the task key — the
    span window and the (task, span) hash-agg share hash(user_id)
    clustering (plan-asserted in tests/test_eventops.py). Streaming twin:
    streaming/aggregate_stream.py, parity-tested across batch boundaries."""
    from .operators.eventops import aggregate_correlate

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    out = aggregate_correlate(
        _events(spark, sf_dir),
        task_cols=("user_id",),
        end_predicate=F.col("event_type") == "purchase",
        sum_exprs={"value_cents": cents},
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        "span",
        "n_events",
        F.col("value_cents").cast("long").alias("value_cents"),
        "span_us",
        F.date_format("ended_ts", fmt).alias("ended_at"),
    )


SQL_AGGREGATE_CORRELATE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_end,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
spanned AS (
  SELECT *, COALESCE(SUM(is_end) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS span
  FROM ordered),
agg AS (
  SELECT user_id, CAST(span AS BIGINT) AS span,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS value_cents,
         min(ts) AS started_ts,
         max(CASE WHEN is_end = 1 THEN ts END) AS ended_ts
  FROM spanned GROUP BY user_id, span)
SELECT user_id, span, n_events, value_cents,
       CAST(date_diff('microsecond', started_ts, ended_ts) AS BIGINT)
         AS span_us,
       strftime(ended_ts, '%Y-%m-%d %H:%M:%S.%f') AS ended_at
FROM agg WHERE ended_ts IS NOT NULL
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed heavy hitters (operators/heavyhitters.py):
    bigrams with cnt*700 > n via two-pass Misra-Gries — per-partition
    MG candidate sketches inside the scan kernel (union provably
    contains every global heavy hitter when capacity ≥ inv_threshold),
    then an exact recount of the bounded candidate set. No raw token
    ever shuffles; the only exchange carries candidate-key partials.
    The oracle is the naive explode-and-count — the exactness proof is
    the equality."""
    from .operators.heavyhitters import heavy_hitters

    return heavy_hitters(
        _docs(spark, sf_dir), ngram=2, inv_threshold=700, capacity=4096
    )


SQL_HEAVY_HITTERS = r"""
WITH w AS (
  SELECT regexp_split_to_array(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS wl
  FROM documents),
g AS (
  SELECT array_to_string(list_slice(wl, j, j+1), ' ') AS gram
  FROM w, LATERAL unnest(generate_series(1, len(wl)-1)) AS t(j)),
t AS (SELECT count(*) AS n FROM g)
SELECT gram, CAST(count(*) AS BIGINT) AS cnt
FROM g, t GROUP BY gram, n HAVING count(*) * 700 > n
"""


def _materialize_ts_logs(sf_dir: str) -> str:
    """Mixed-format timestamp log derived ARITHMETICALLY from
    documents.parquet: each doc_id renders one `<doc_id> <stamp>` line
    whose stamp format cycles by doc_id % 5 (ISO8601+offset, CLF,
    month-name, epoch seconds, corrupt) but whose INSTANT is always
    2024-01-01 + doc_id seconds — so the oracle recomputes every parsed
    epoch without parsing a line (:func:`_materialize_fixture`)."""

    def render(stage: str, docs: str) -> None:
        import datetime as _dt
        import os

        import pyarrow.parquet as pq

        tbl = pq.read_table(docs, columns=["doc_id"]).sort_by([("doc_id", "ascending")])
        base = _dt.datetime(2024, 1, 1)
        base_epoch = 1704067200  # 2024-01-01T00:00:00Z
        lines = []
        for d in tbl.column("doc_id").to_pylist():
            t = base + _dt.timedelta(seconds=d)
            hms = f"{t.hour:02d}:{t.minute:02d}:{t.second:02d}"
            ymd = f"{t.year:04d}-{t.month:02d}-{t.day:02d}"
            mon = _MONTH_ABBR[t.month - 1]
            fmt = d % 5
            if fmt == 0:
                stamp = f"{ymd}T{hms}+0000"
            elif fmt == 1:
                stamp = f"{t.day:02d}/{mon}/{t.year:04d}:{hms} +0000"
            elif fmt == 2:
                stamp = f"{mon} {t.day:02d} {t.year:04d} {hms}"
            elif fmt == 3:
                stamp = str(base_epoch + d)
            else:
                stamp = f"corrupt~{d}"
            lines.append(f"{d} {stamp}\n")
        with open(os.path.join(stage, "stamps.log"), "w") as fh:
            fh.writelines(lines)

    return _materialize_fixture(sf_dir, "tslog", render)


def q_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format timestamp parsing (operators/datefilter.py — the
    logstash `date` filter): harvest a mixed-format timestamp log (four
    formats cycling per line: ISO8601+offset, CLF, month-name, UNIX
    epoch, plus a corrupt fifth) and resolve each line through the
    ordered try_to_timestamp coalesce chain; corrupt lines get the
    `_dateparsefailure` analog. Every line's instant is a pure function
    of doc_id, so the oracle recomputes all epochs arithmetically —
    render, harvest, dissect split, the full format chain and failure
    tagging are gated without DuckDB parsing a stamp. Row-local, zero
    shuffle, zero Python."""
    from .operators.datefilter import parse_date
    from .operators.dissect import dissect_extract
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_ts_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    d = dissect_extract(lines, "%{doc_id:long} %{raw_ts}", text_col="line")
    p = parse_date(
        d,
        "raw_ts",
        [
            "yyyy-MM-dd'T'HH:mm:ssZ",
            "dd/MMM/yyyy:HH:mm:ss Z",
            "MMM dd yyyy HH:mm:ss",
            "UNIX",
        ],
        target="event_ts",
    )
    return p.select(
        "doc_id",
        F.coalesce(F.unix_timestamp("event_ts"), F.lit(-1)).alias("epoch"),
        F.col("event_ts_failed").cast("long").alias("failed"),
    )


SQL_DATE_PARSE = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 4 THEN -1
                 ELSE 1704067200 + doc_id END AS BIGINT) AS epoch,
       CAST(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS BIGINT) AS failed
FROM documents
"""


def q_mutate_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field mutation chain (operators/mutate.py — the logstash `mutate`
    filter): a 12-op chain over documents exercising copy, gsub, strip,
    lowercase, split, join, rename, convert, sprintf replace, uppercase,
    capitalize and the update no-op — applied in declared order, so the
    sprintf summary sees the PRE-uppercase source while the output
    source column is post-uppercase (op ordering is the observable
    logstash contract). The whole chain collapses into one codegen'd
    Project; the oracle rebuilds each field with DuckDB string
    functions. Row-local, zero shuffle, zero Python."""
    from .operators.mutate import mutate

    d = _docs(spark, sf_dir).select("doc_id", "text", "source", "n_chars")
    out = mutate(
        d,
        [
            ("copy", "text", "norm"),
            ("gsub", "norm", r"\s+", " "),
            ("strip", "norm"),
            ("lowercase", "norm"),
            ("split", "norm", " "),
            ("join", "norm", "_"),
            ("rename", "norm", "slug"),
            ("convert", "n_chars", "string"),
            ("replace", "summary", "%{source}|%{n_chars}c"),
            ("uppercase", "source"),
            ("capitalize", "slug"),
            ("update", "no_such_field", "%{source}"),
        ],
    )
    return out.select("doc_id", "slug", "summary", "source", "n_chars")


SQL_MUTATE_CHAIN = r"""
WITH m AS (
  SELECT doc_id, source, n_chars,
         replace(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ', '_')
           AS slug
  FROM documents)
SELECT doc_id,
       upper(substring(slug, 1, 1)) || lower(substring(slug, 2)) AS slug,
       source || '|' || n_chars || 'c' AS summary,
       upper(source) AS source,
       CAST(n_chars AS VARCHAR) AS n_chars
FROM m
"""


def q_clone_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clone + range filters composed (operators/filters.py clone_events /
    range_tags): every event passes through plus one 'audit'-typed copy
    (row-local explode — a Generate in the scan's stage, no exchange),
    and both copies run the range check (clones re-enter the filter
    chain, the logstash contract): value outside [0, 10] appends a tag.
    Boolean compare only on the value column (no float arithmetic in
    compared output, house rule)."""
    from .operators.filters import clone_events, range_tags

    e = _events(spark, sf_dir).select("event_id", "event_type", "value")
    c = clone_events(e, ["audit"], type_col="event_type")
    return c.select(
        "event_id",
        "event_type",
        "cloned",
        range_tags([("value", 0.0, 10.0, "value_out_of_range")]).alias(
            "range_tags_s"
        ),
    )


SQL_CLONE_RANGE = """
WITH c AS (
  SELECT event_id, event_type, value, FALSE AS cloned FROM events
  UNION ALL
  SELECT event_id, 'audit' AS event_type, value, TRUE AS cloned FROM events)
SELECT event_id, event_type, cloned,
       concat_ws(',', CASE WHEN NOT (value BETWEEN 0.0 AND 10.0)
                           THEN 'value_out_of_range' END) AS range_tags_s
FROM c
"""


def q_dns_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DNS filter in its cluster-safe form (operators/filters.py
    dns_lookup): client IPs harvested from the rendered access-log
    fixture resolve against a STATIC resolver table (the filter's
    in-process cache made into a relation — constant-size at any data
    scale, so the join broadcasts); misses carry the _dnsfailure tag.
    The fixture's IPs are pure functions of doc_id, so the oracle
    recomputes resolution arithmetically."""
    from .operators.fieldops import ipv4_to_long
    from .operators.filters import dns_lookup
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_access_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    client = F.substring_index("line", " ", 1)
    base = 10 * 16777216  # fixture IPs are 10.x.y.z of doc_id
    logs = lines.select(
        (ipv4_to_long(client) - F.lit(base)).cast("long").alias("doc_id"),
        client.alias("client"),
    )
    hosts = (
        spark.range(0, 4096)
        .where(F.col("id") % 7 == 0)
        .select(
            F.concat_ws(
                ".",
                F.lit(10),
                (F.col("id") / 65536).cast("long") % 256,
                (F.col("id") / 256).cast("long") % 256,
                F.col("id") % 256,
            ).alias("addr"),
            F.concat(F.lit("ns-"), F.col("id")).alias("name"),
        )
    )
    out = dns_lookup(logs, hosts, field="client")
    return out.select("doc_id", "client", "resolved", "dns_tags")


SQL_DNS_LOOKUP = """
SELECT doc_id,
       '10.' || ((doc_id // 65536) % 256) || '.' || ((doc_id // 256) % 256)
            || '.' || (doc_id % 256) AS client,
       CASE WHEN doc_id < 4096 AND doc_id % 7 = 0
            THEN 'ns-' || doc_id END AS resolved,
       CASE WHEN doc_id < 4096 AND doc_id % 7 = 0
            THEN '' ELSE '_dnsfailure' END AS dns_tags
FROM documents
"""


def _incremental_dedup_run(
    spark: SparkSession, sf_dir: str, tau_pct: int
) -> DataFrame:
    """Shared driver for the incremental-dedup queries: documents split
    into two ID-ORDERED batches (lower half first — first-wins then
    coincides with global min-id keeper election for the exact path),
    fed through operators/incremental.py against a fresh per-run store.
    The split point comes from the parquet FOOTER (a driver-side
    metadata read — the curation_ledger precedent), not a count() job."""
    import os as _os
    import tempfile

    import pyarrow.parquet as _pq

    from .operators.incremental import SignatureStore, incremental_dedup_batch

    d = _docs(spark, sf_dir).select("doc_id", "text")
    split = (
        _pq.ParquetFile(
            _os.path.join(sf_dir, "documents.parquet")
        ).metadata.num_rows
        // 2
    )
    store = SignatureStore(tempfile.mkdtemp(prefix="lfs_incr_"))
    k1 = incremental_dedup_batch(
        spark,
        store,
        d.where(F.col("doc_id") < split),
        batch_id="b1",
        tau_pct=tau_pct,
    )
    k2 = incremental_dedup_batch(
        spark,
        store,
        d.where(F.col("doc_id") >= split),
        batch_id="b2",
        tau_pct=tau_pct,
    )
    return (
        k1.withColumn("batch", F.lit("b1"))
        .unionByName(k2.withColumn("batch", F.lit("b2")))
        .select("doc_id", "fp", "batch")
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup, FULL flow (operators/incremental.py):
    two id-ordered batches greedily deduped (exact fingerprints + banded
    minhash near-dups at tau=80) against a committed signature store —
    the ongoing-pipeline form where each new crawl batch joins the
    corpus without rescanning it (store scanned + batch broadcast, never
    a store shuffle; plan-asserted in tests/test_incremental.py).
    ROWS-ONLY like minhash_lsh: the near path rides engine-specific
    xxhash64 minhash; greedy near-dedup is also non-relational, so no
    SQL twin exists — the exact-path witness below is the oracle-able
    slice, and the greedy invariants are pytest-swept."""
    return _incremental_dedup_run(spark, sf_dir, tau_pct=80)


def q_incremental_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-able witness for incremental dedup: same two-batch flow
    with the near threshold set unreachable (tau=101 — agreement tops
    out at 100), so drops are exactly the portable md5 fingerprint
    matches. First-wins over id-ordered batches == global min-id keeper
    per fingerprint, which IS relational — the full SQL twin below. The
    near machinery still executes (banded buckets built and joined,
    agreement evaluated); only its drop rule is vacuous here."""
    return _incremental_dedup_run(spark, sf_dir, tau_pct=101)


SQL_INCREMENTAL_DEDUP_EXACT = r"""
WITH fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
  FROM documents),
keepers AS (
  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp FROM fp GROUP BY fp)
SELECT doc_id, fp,
       CASE WHEN doc_id < (SELECT count(*) // 2 FROM documents)
            THEN 'b1' ELSE 'b2' END AS batch
FROM keepers
"""


def q_metricize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metricize filter (operators/filters.py metricize): each lineitem
    event carrying three metric fields splits into three single-metric
    events — an Expand inside the scan's stage, no exchange, exactly 3×
    input rows. Metrics pre-converted to exact integers (cents / basis
    points) per the house rule before the unpivot."""
    from .operators.filters import metricize

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("long")
        .alias("qty_c"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("disc_bp"),
    )
    return metricize(
        li,
        ["qty_c", "price_c", "disc_bp"],
        id_cols=["l_orderkey", "l_linenumber"],
    )


SQL_METRICIZE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_bp
  FROM lineitem)
SELECT l_orderkey, l_linenumber, 'qty_c' AS metric, qty_c AS value FROM li
UNION ALL
SELECT l_orderkey, l_linenumber, 'price_c', price_c FROM li
UNION ALL
SELECT l_orderkey, l_linenumber, 'disc_bp', disc_bp FROM li
"""


def q_cipher_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cipher filter (operators/filters.py cipher_field): AES-128-ECB
    tokenization of the document text, gated by the decrypt∘encrypt
    roundtrip recovering the plaintext and the ciphertext being a
    non-identity block-aligned transform. The oracle can't run AES, so
    it states the INVARIANTS (roundtrip identity, alignment) — the
    deterministic same-plaintext→same-ciphertext property that makes
    ECB the right mode for tokenized dedup is unit-tested in
    tests/test_filters.py."""
    from .operators.filters import cipher_field

    key = "0123456789abcdef"
    d = _docs(spark, sf_dir).select("doc_id", "text")
    ct = cipher_field(F.col("text"), key)
    return d.select(
        "doc_id",
        (cipher_field(ct, key, decrypt=True) == F.col("text")).alias(
            "roundtrip_ok"
        ),
        (F.length(F.unbase64(ct)) % 16 == 0).alias("block_aligned"),
        (ct != F.col("text")).alias("transformed"),
    )


SQL_CIPHER_ROUNDTRIP = """
SELECT doc_id, TRUE AS roundtrip_ok, TRUE AS block_aligned,
       TRUE AS transformed
FROM documents
"""


def q_useragent_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-agent parsing (operators/filters.py — the logstash useragent
    filter, uap-core idea restricted to the major families): six UA
    shapes (Chrome, Edge-over-Chrome, Firefox, mobile Safari, curl,
    unknown) are rendered from (doc_id, n_chars) with format_string and
    parsed back through the ordered family/OS pattern tables — so
    family precedence (Edge before the Chrome it embeds, iOS before the
    macOS it quotes), per-family version extraction and the Other
    fallbacks are all gated while the oracle recomputes every field
    arithmetically. Row-local, zero shuffle, zero Python."""
    from .operators.filters import useragent_extract

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    v = (F.col("n_chars") % 50 + 1).cast("int")
    m = F.col("doc_id") % 6
    ua = (
        F.when(
            m == 0,
            F.format_string(
                "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 "
                "Chrome/%d.0.0.0 Safari/537.36",
                v,
            ),
        )
        .when(
            m == 1,
            F.format_string(
                "Mozilla/5.0 (Windows NT 10.0) Chrome/%d.0 Safari/537.36 "
                "Edg/%d.0.100",
                v,
                v,
            ),
        )
        .when(
            m == 2,
            F.format_string(
                "Mozilla/5.0 (X11; Linux x86_64; rv:%d.0) Gecko/20100101 "
                "Firefox/%d.0",
                v,
                v,
            ),
        )
        .when(
            m == 3,
            F.format_string(
                "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) "
                "Version/%d.1 Mobile/15E148 Safari/604.1",
                v,
            ),
        )
        .when(m == 4, F.format_string("curl/%d.4.0", v))
        .otherwise(F.format_string("UnknownAgent/%d", v))
    )
    parsed = useragent_extract(d.withColumn("agent", ua))
    return parsed.select(
        "doc_id",
        "ua_family",
        F.coalesce("ua_major", F.lit("")).alias("ua_major"),
        "ua_os",
    )


SQL_USERAGENT_PARSE = """
WITH u AS (
  SELECT doc_id, doc_id % 6 AS m,
         CAST(n_chars % 50 + 1 AS VARCHAR) AS v
  FROM documents)
SELECT doc_id,
       CASE m WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Edge' WHEN 2 THEN 'Firefox'
              WHEN 3 THEN 'Safari' WHEN 4 THEN 'curl'
              ELSE 'Other' END AS ua_family,
       CASE WHEN m = 5 THEN '' ELSE v END AS ua_major,
       CASE m WHEN 0 THEN 'Windows' WHEN 1 THEN 'Windows' WHEN 2 THEN 'Linux'
              WHEN 3 THEN 'iOS' ELSE 'Other' END AS ua_os
FROM u
"""


def q_translate_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary translation (operators/filters.py — the logstash
    translate filter): event_type → funnel category through a LITERAL
    create_map + element_at with a default fallback — the exact shape of
    logstash's in-memory dict (configuration-sized, never data-sized; no
    join node at all, so nothing to broadcast or shuffle). Row-local,
    codegen'd. Data-sized mappings belong to enrich_broadcast instead."""
    from .operators.filters import translate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = translate(
        ev,
        "event_type",
        {
            "click": "engagement",
            "view": "engagement",
            "purchase": "revenue",
            "signup": "acquisition",
        },
        dest="category",
        default="other",
    )
    return out.select("event_id", "event_type", "category")


SQL_TRANSLATE_LOOKUP = """
SELECT event_id, event_type,
       CASE event_type
            WHEN 'click' THEN 'engagement'
            WHEN 'view' THEN 'engagement'
            WHEN 'purchase' THEN 'revenue'
            WHEN 'signup' THEN 'acquisition'
            ELSE 'other' END AS category
FROM events
"""


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV line parsing (operators/filters.py — the logstash csv
    filter): each order renders one RFC4180 line whose quoted middle
    field embeds a comma AND doubled-quote escapes (the
    key,"<prio>, ''<status>''",custkey shape with '' standing for the
    doubled quote char), then from_csv parses it back with
    quote=escape='"'. The roundtrip must reproduce the
    original columns exactly, so quoting, escape doubling and the typed
    convert path are all gated arithmetically. Row-local, zero shuffle,
    zero Python."""
    from .operators.filters import csv_extract

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lines = o.select(
        F.format_string(
            '%d,"%s, ""%s""",%d',
            "o_orderkey",
            "o_orderpriority",
            "o_orderstatus",
            "o_custkey",
        ).alias("line")
    )
    parsed = csv_extract(
        lines,
        "line",
        ["id", "label", "custkey"],
        types={"id": "long", "custkey": "long"},
    )
    return parsed.select("id", "label", "custkey")


SQL_CSV_ROUNDTRIP = """
SELECT o_orderkey AS id,
       o_orderpriority || ', "' || o_orderstatus || '"' AS label,
       o_custkey AS custkey
FROM orders
"""


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML line parsing (operators/filters.py — the logstash xml
    filter, Spark 4's from_xml): each event renders one single-element
    XML line mixing ATTRIBUTE fields (id, kind) and CHILD-ELEMENT
    fields (user, val as integer cents), then from_xml parses it back
    through the `_attr`-vs-element schema convention. The roundtrip
    must reproduce the original columns exactly, gated arithmetically
    against events. Row-local, zero shuffle, zero Python."""
    from .operators.filters import xml_extract

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = ev.select(
        F.format_string(
            '<ev id="%d" kind="%s"><user>u%d</user><val>%d</val></ev>',
            "event_id",
            "event_type",
            "user_id",
            F.floor(F.col("value") * 100).cast("long"),
        ).alias("line")
    )
    parsed = xml_extract(
        lines, "line", "_id long, _kind string, user string, val long"
    )
    return parsed.select(
        F.col("_id").alias("event_id"),
        F.col("_kind").alias("kind"),
        "user",
        F.col("val").alias("value_cents"),
    )


SQL_XML_ROUNDTRIP = """
SELECT event_id, event_type AS kind, 'u' || user_id AS user,
       CAST(floor(value * 100) AS BIGINT) AS value_cents
FROM events
"""


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus splits (doc_id
    parity — a deterministic stand-in for yesterday-vs-today or
    sourceA-vs-sourceB): per-split word counts through ONE map-side-
    combinable (split, word) hash-agg, pivoted to a word row, scored by
    |ppm_a − ppm_b| (per-split parts-per-million, floored in DOUBLE —
    the identical-IEEE-then-floor house pattern; pure-BIGINT cross
    products c_a·n_b overflow past ~9.2e18). Top-50 by drift with
    deterministic word tie-break. The drift report a training-data
    pipeline runs before mixing a new crawl into the corpus."""
    from .operators.dedup import _norm

    d = _docs(spark, sf_dir)
    words = d.select(
        (F.col("doc_id") % 2).alias("split"),
        F.explode(F.split(_norm(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    cnt = words.groupBy("split", "word").agg(F.count(F.lit(1)).alias("cnt"))
    by_word = cnt.groupBy("word").agg(
        F.sum(F.when(F.col("split") == 0, F.col("cnt")).otherwise(0)).alias(
            "cnt_a"
        ),
        F.sum(F.when(F.col("split") == 1, F.col("cnt")).otherwise(0)).alias(
            "cnt_b"
        ),
    )
    totals = by_word.agg(
        F.sum("cnt_a").alias("n_a"), F.sum("cnt_b").alias("n_b")
    )
    ppm_a = F.floor(
        F.col("cnt_a").cast("double")
        / F.col("n_a").cast("double")
        * F.lit(1000000.0)
    )
    ppm_b = F.floor(
        F.col("cnt_b").cast("double")
        / F.col("n_b").cast("double")
        * F.lit(1000000.0)
    )
    scored = by_word.crossJoin(F.broadcast(totals)).select(
        "word",
        F.col("cnt_a").cast("long").alias("cnt_a"),
        F.col("cnt_b").cast("long").alias("cnt_b"),
        F.abs(ppm_a - ppm_b).cast("long").alias("drift_ppm"),
    )
    return scored.orderBy(F.desc("drift_ppm"), F.asc("word")).limit(50)


SQL_VOCAB_DRIFT = r"""
WITH w AS (
  SELECT doc_id % 2 AS split,
         unnest(regexp_split_to_array(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
  FROM documents),
c AS (
  SELECT word,
         sum(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS cnt_a,
         sum(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS cnt_b
  FROM w WHERE word <> '' GROUP BY word),
t AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM c)
SELECT word, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
       CAST(abs(floor(cnt_a / n_a * 1000000.0)
              - floor(cnt_b / n_b * 1000000.0)) AS BIGINT) AS drift_ppm
FROM c, t
ORDER BY drift_ppm DESC, word ASC
LIMIT 50
"""


def _portable_shingle_hashes_raw(
    docs: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Every-occurrence (doc_id, h) word-3-gram hashes with the PORTABLE
    hash of the minhash witness (md5 first-15-hex mod P) — computed
    entirely JVM-side: split → slice/arrays_zip 3-gram → md5 →
    conv(hex,16,10). Zero Python, and — r8 — zero interpreted HOF: the
    r7 ``transform(sequence(...), i -> concat_ws(...))`` lambda was
    evaluated by the INTERPRETED expression path, re-running the whole
    normalize+split chain per element (CLAUDE.md: HOFs ~10× a codegen'd
    Project; the r8 plan audit showed the chain inlined into every
    ``element_at``). The zip-adjacent-slices form is the lm.py
    ``bigram_relation`` pattern at n=3: one Generate + codegen'd
    Projects, identical strings. The exploded-relation shape is the
    gated-correctness path; the production sketch path stays in the
    row-local Arrow kernel (operators/dedup.py)."""
    w = docs.select(
        "doc_id",
        *keep,
        F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ").alias(
            "w"
        ),
    ).filter(F.size("w") >= 3)
    # zip w[1..n-2], w[2..n-1], w[3..n] (1-based slice) == the oracle's
    # 1-based (w[i], w[i+1], w[i+2]); size >= 3 guards the
    # descending-sequence trap (CLAUDE.md) AND keeps slice lengths >= 1
    grams = w.select(
        "doc_id",
        *keep,
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 2).alias("g1"),
                F.slice("w", 2, F.size("w") - 2).alias("g2"),
                F.slice("w", 3, F.size("w") - 2).alias("g3"),
            )
        ).alias("_g"),
    ).select(
        "doc_id",
        *keep,
        F.concat_ws(" ", "_g.g1", "_g.g2", "_g.g3").alias("shingle"),
    )
    from .operators.sketch import P as _P

    return grams.select(
        "doc_id",
        *keep,
        (F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long") % _P)
        .alias("h"),
    )


def _portable_shingle_hashes(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, h) pairs — the membership-probe grain."""
    return _portable_shingle_hashes_raw(docs).distinct()


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/sketch.py) — the 100 TB
    shape for corpus-vs-corpus overlap: the 'already seen' side is a
    BIT SET of fixed size (k=3 hashes x width=2048 here; ~KBs broadcast
    regardless of how many shingles were inserted), not the exact
    distinct-shingle relation `decontaminate` broadcasts. Per corpus doc:
    how many of its distinct shingle hashes pass ALL k probes (possible
    members — includes deterministic false positives; the oracle
    reproduces every probe bit-exactly, so FPs are flagged identically
    by both engines). No false negatives by construction: every true
    overlap in `decontaminate` is counted here too. Measured at sf0.01:
    270 bench keys inserted, 280 of 25,643 corpus (doc,hash) probes pass
    vs 223 true overlaps — 57 FP pairs (0.22%), 196 docs flagged vs 171
    exact; in production, size width ~ O(n_keys/k) to hold that rate."""
    from .operators.sketch import bloom_bits, bloom_member

    hs = _portable_shingle_hashes(_docs(spark, sf_dir))
    bench = hs.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    corpus = hs.filter(F.col("doc_id") % 97 != 0)
    bits = bloom_bits(bench, "h", width=2048)
    flagged = bloom_member(corpus, "h", bits, width=2048)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_flagged")
    )


# coeffs mirror operators/sketch.py BLOOM_COEFFS; P = 1073741789
SQL_BLOOM_DECONTAMINATE = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
h AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1073741789 AS h
  FROM sh),
bits AS (
  SELECT DISTINCT c.i, ((b.h * c.a + c.b) % 1073741789) % 2048 AS pos
  FROM (SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0) b,
       (VALUES (0, 389, 104729), (1, 761, 95819), (2, 1223, 88643)) AS c(i, a, b)),
pp AS (
  SELECT p.doc_id, p.h, c.i, ((p.h * c.a + c.b) % 1073741789) % 2048 AS pos
  FROM h p, (VALUES (0, 389, 104729), (1, 761, 95819), (2, 1223, 88643)) AS c(i, a, b)
  WHERE p.doc_id % 97 <> 0),
hits AS (
  SELECT pp.doc_id, pp.h
  FROM pp JOIN bits USING (i, pos)
  GROUP BY pp.doc_id, pp.h
  HAVING count(*) = 3)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
FROM hits GROUP BY doc_id
"""


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates (operators/sketch.py) for every
    distinct user in the event stream, from a d=4 x width=64 sketch —
    256 counters TOTAL, so the exchange carries sketch rows, never raw
    keys (map-side combine collapses each task to <= d*width partials).
    width=64 << 150 distinct users forces real collisions at the gate
    SF: est >= exact everywhere (one-sided Count-Min guarantee, asserted
    in tests/test_sketch.py), and the oracle reconstructs the identical
    sketch arithmetically — collisions and all."""
    from .operators.sketch import cms_build, cms_estimate

    e = _events(spark, sf_dir).select("user_id")
    counters = cms_build(e, "user_id", width=64)
    return cms_estimate(e.distinct(), "user_id", counters, width=64)


# coeffs mirror operators/sketch.py CMS_COEFFS; P = 1073741789
SQL_CMS_COUNTS = """
WITH h AS (
  SELECT ((user_id % 1073741789) + 1073741789) % 1073741789 AS h FROM events),
counters AS (
  SELECT c.j, ((h.h * c.a + c.b) % 1073741789) % 64 AS bucket, count(*) AS cnt
  FROM h, (VALUES (0, 389, 104729), (1, 761, 95819), (2, 1223, 88643), (3, 1543, 71993)) AS c(j, a, b)
  GROUP BY 1, 2),
probes AS (SELECT DISTINCT user_id FROM events),
pr AS (
  SELECT p.user_id, c.j,
         (((((p.user_id % 1073741789) + 1073741789) % 1073741789) * c.a + c.b) % 1073741789) % 64 AS bucket
  FROM probes p, (VALUES (0, 389, 104729), (1, 761, 95819), (2, 1223, 88643), (3, 1543, 71993)) AS c(j, a, b))
SELECT pr.user_id, CAST(min(coalesce(ct.cnt, 0)) AS BIGINT) AS est
FROM pr LEFT JOIN counters ct ON ct.j = pr.j AND ct.bucket = pr.bucket
GROUP BY pr.user_id
"""


def q_hll_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers (operators/sketch.py) over ALL corpus
    shingle-hash occurrences — the vocabulary-growth monitor ("how many
    distinct shingles does the crawl hold?") at its 100 TB price: ONE
    m-row hash-agg with map-side combine and NO distinct anywhere
    (register max is idempotent under duplicates, so the dedup shuffle
    an exact count(distinct) needs simply never happens). Output is the
    ≤ m = 64 integer register relation — the estimate is a driver-side
    fold (hll_estimate); at sf0.01 it reads 16,245 true distinct hashes
    as ~16,158 (-0.5%, well inside the 1.04/sqrt(64) = 13% expected
    error; tests/test_sketch.py). Oracle rebuilds every register via the
    bin()-length rank arithmetic (portable across both engines)."""
    from .operators.sketch import hll_registers

    hs = _portable_shingle_hashes_raw(_docs(spark, sf_dir))
    return hll_registers(hs, "h", m=64)


SQL_HLL_SHINGLES = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
h2 AS (
  SELECT ((('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1073741789)
          * 2029 + 64763) % 1073741789 AS h2
  FROM sh)
SELECT CAST(h2 % 64 AS BIGINT) AS register,
       CAST(max(CASE WHEN h2 // 64 = 0 THEN 25
                     ELSE 25 - length(bin(h2 // 64)) END) AS BIGINT) AS max_rank
FROM h2 GROUP BY 1
"""


def q_field_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-hygiene filter chain (operators/fieldops.py — the last
    logstash small-filter gaps in one gated pass): a URL-encoded message
    rendered arithmetically from doc_id flows through de_dot (dotted
    names → underscores), prune (blacklist drops the metadata column —
    driver-side projection, i.e. COLUMN PRUNING at the scan), urldecode
    (Spark's builtin percent/+ decoder; the oracle renders the decoded
    form directly, so decode semantics are gated without DuckDB owning a
    decoder), byte truncation (ASCII fixture — byte == char; multibyte
    byte-exactness is pytest-proven against a Python reference),
    extractnumbers (regexp_extract_all, array_join'd per the no-array
    house rule), a DETERMINISTIC v3 UUID (md5-derived, NULL-safe concat
    — the replayable form of the logstash uuid filter), and json_encode
    (compact to_json — key order is declared order on both engines).
    The whole chain is ONE codegen'd Project: zero shuffle, zero Python
    (plan-asserted in tests/test_fieldops.py)."""
    from .operators.fieldops import (
        de_dot,
        extract_numbers,
        json_encode,
        prune_fields,
        truncate_bytes,
        urldecode,
        uuid3_field,
    )

    d = _docs(spark, sf_dir)
    enc = F.concat(
        F.lit("path%2F"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("%3Fq%3Ddoc+"),
        F.col("doc_id").cast("string"),
        F.lit("%26n%3D"),
        (F.col("doc_id") % 7).cast("string"),
    )
    raw = d.select(
        "doc_id",
        enc.alias("msg.enc"),  # dotted names exercise de_dot
        F.col("source").alias("meta.source"),
    )
    pr = prune_fields(de_dot(raw), blacklist=[r"meta_.*"])
    out = pr.select(
        "doc_id",
        urldecode("msg_enc").alias("decoded"),
        truncate_bytes(urldecode("msg_enc"), 16).alias("trunc16"),
        F.array_join(extract_numbers(urldecode("msg_enc")), ",").alias("nums"),
        uuid3_field("doc_id", "msg_enc").alias("uid"),
    )
    return json_encode(out, ["doc_id", "decoded"], "js")


SQL_FIELD_HYGIENE = r"""
WITH r AS (
  SELECT doc_id,
         'path/' || (doc_id % 50) || '?q=doc ' || doc_id || '&n=' || (doc_id % 7)
             AS decoded,
         md5(doc_id || '|' || 'path%2F' || (doc_id % 50) || '%3Fq%3Ddoc+'
             || doc_id || '%26n%3D' || (doc_id % 7)) AS h
  FROM documents)
SELECT doc_id, decoded,
       substring(decoded, 1, 16) AS trunc16,
       coalesce(array_to_string(
           regexp_extract_all(decoded, '-?\d+(?:\.\d+)?'), ','), '') AS nums,
       substr(h,1,8) || '-' || substr(h,9,4) || '-3' || substr(h,14,3)
           || '-8' || substr(h,18,3) || '-' || substr(h,21,12) AS uid,
       '{"doc_id":' || doc_id || ',"decoded":"' || decoded || '"}' AS js
FROM r
"""


def q_cidr_tld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cidr + tld filters (operators/fieldops.py) over the harvested
    access-log fixture: the client dotted-quad matches a CONFIGURATION-
    sized CIDR list compiled to integer prefix compares (first match
    wins, when/otherwise chain — no join node; data-sized block tables
    are q_ip_range_lookup's range_bucket_join instead), and a hostname
    rendered arithmetically from doc_id splits into
    tld/registered-domain/subdomain across two-level registries
    (co.uk/com.au), plain TLDs, and empty-subdomain shapes. The
    fixture's ip embeds doc_id (10.x.y.z = base + doc_id mod 2^24), so
    the oracle recomputes match and split arithmetically — render,
    harvest, conversion, prefix math and label slicing all gated.
    Row-local, zero shuffle, zero Python."""
    from .operators.fieldops import cidr_match, tld_extract
    from .sources.textlog import harvest_text_files

    log_dir = _materialize_access_logs(sf_dir)
    lines = harvest_text_files(spark, f"{log_dir}/*.log").filter("is_complete")
    doc_id = F.regexp_extract("line", r'"\w+ /d/(\d+) ', 1).cast("long")
    client = F.substring_index("line", " ", 1)
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in ("com", "org", "co.uk", "com.au", "io")]),
        (doc_id % 5 + 1).cast("int"),
    )
    sub = F.element_at(
        F.array(F.lit("www."), F.lit("api.eu."), F.lit("")),
        (doc_id % 3 + 1).cast("int"),
    )
    host = F.concat(
        sub, F.lit("h"), (doc_id % 97).cast("string"), F.lit("."), suffix
    )
    base = lines.select(
        doc_id.alias("doc_id"), client.alias("client"), host.alias("host")
    )
    tcols = tld_extract("host")
    return base.select(
        "doc_id",
        "client",
        "host",
        cidr_match("client", ["10.0.0.0/24", "10.0.0.0/16", "10.0.0.0/8"]).alias(
            "net"
        ),
        *[c.alias(k) for k, c in tcols.items()],
    )


SQL_CIDR_TLD = """
WITH r AS (
  SELECT doc_id,
         '10.' || ((doc_id // 65536) % 256) || '.' || ((doc_id // 256) % 256)
              || '.' || (doc_id % 256) AS client,
         ['com', 'org', 'co.uk', 'com.au', 'io'][(doc_id % 5)::INT + 1] AS suffix,
         ['www.', 'api.eu.', ''][(doc_id % 3)::INT + 1] AS sub,
         'h' || (doc_id % 97) AS label
  FROM documents)
SELECT doc_id, client,
       sub || label || '.' || suffix AS host,
       CASE WHEN doc_id % 16777216 < 256 THEN '10.0.0.0/24'
            WHEN doc_id % 16777216 < 65536 THEN '10.0.0.0/16'
            ELSE '10.0.0.0/8' END AS net,
       suffix AS tld,
       label || '.' || suffix AS domain,
       trim(TRAILING '.' FROM sub) AS subdomain
FROM r
"""


def q_meter_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The logstash metrics filter's meter surface (rate_1m/5m/15m per
    named meter), in the batch-exact sliding form: per (event_type,
    minute) counts with trailing 5- and 15-minute sums via RANGE frames
    over the MINUTE AGGREGATE — wall-clock-correct across silent minutes
    (a gap shrinks the trailing count; the ROWS-frame form would slide
    over observed rows instead — that's rate_anomaly's deliberate
    choice, this one is the meter contract). Rates reported as integer
    milli-events/sec (``n*1000 floordiv window_sec`` — no float in
    compared columns). Scale shape: one map-side-combinable hash-agg to
    |types|×|minutes| rows, then windows over that aggregate only — the
    raw stream is never windowed; same discipline as rate_anomaly,
    whose streaming twin covers the live path."""
    e = _events(spark, sf_dir)
    minute = F.floor(F.unix_timestamp("ts") / 60).cast("long")
    per_min = (
        e.groupBy("event_type", minute.alias("minute"))
        .agg(F.count(F.lit(1)).alias("n_1m"))
    )
    w5 = W.partitionBy("event_type").orderBy("minute").rangeBetween(-4, 0)
    w15 = W.partitionBy("event_type").orderBy("minute").rangeBetween(-14, 0)
    n5 = F.sum("n_1m").over(w5)
    n15 = F.sum("n_1m").over(w15)
    return per_min.select(
        "event_type",
        "minute",
        F.col("n_1m").cast("long").alias("n_1m"),
        n5.cast("long").alias("n_5m"),
        n15.cast("long").alias("n_15m"),
        F.floor(n5 * 1000 / 300).cast("long").alias("rate_5m_meps"),
        F.floor(n15 * 1000 / 900).cast("long").alias("rate_15m_meps"),
    )


SQL_METER_RATES = """
WITH m AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 60) AS BIGINT) AS minute,
         count(*) AS n_1m
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, minute, n_1m,
         sum(n_1m) OVER (PARTITION BY event_type ORDER BY minute
                         RANGE BETWEEN 4 PRECEDING AND CURRENT ROW) AS n_5m,
         sum(n_1m) OVER (PARTITION BY event_type ORDER BY minute
                         RANGE BETWEEN 14 PRECEDING AND CURRENT ROW) AS n_15m
  FROM m)
SELECT event_type, minute,
       CAST(n_1m AS BIGINT) AS n_1m,
       CAST(n_5m AS BIGINT) AS n_5m,
       CAST(n_15m AS BIGINT) AS n_15m,
       CAST(n_5m * 1000 // 300 AS BIGINT) AS rate_5m_meps,
       CAST(n_15m * 1000 // 900 AS BIGINT) AS rate_15m_meps
FROM w
"""


def q_syslog_pri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """syslog_pri filter (operators/filters.py): render one RFC3164 line
    per doc ARITHMETICALLY (pri = doc_id % 200 — values 192-199 exercise
    the out-of-range path; doc_id % 13 = 0 renders with NO <PRI> at all,
    the missing-prefix path), decode facility/severity codes + labels +
    stripped message, default pri 13 (user-level notice) where invalid —
    the logstash contract. The oracle recomputes every output from
    doc_id arithmetic without parsing a single line. Zero shuffle."""
    from .operators.filters import syslog_pri_extract

    body = F.concat(F.lit("host prog: msg "), F.col("doc_id").cast("string"))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when((F.col("doc_id") % 13) == 0, body)
        .otherwise(
            F.concat(
                F.lit("<"),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(">"),
                body,
            )
        )
        .alias("line"),
    )
    out = syslog_pri_extract(d, "line")
    return out.select(
        "doc_id",
        F.col("syslog_pri").cast("long").alias("syslog_pri"),
        F.col("syslog_facility_code").cast("long").alias("syslog_facility_code"),
        F.col("syslog_severity_code").cast("long").alias("syslog_severity_code"),
        "syslog_facility",
        "syslog_severity",
        "message",
    )


def _sql_list_literal(items: list[str]) -> str:
    inner = ", ".join("'" + s.replace("'", "''") + "'" for s in items)
    return f"[{inner}]"


def _sql_syslog_pri() -> str:
    from .operators.filters import SYSLOG_FACILITIES, SYSLOG_SEVERITIES

    fac = _sql_list_literal(SYSLOG_FACILITIES)
    sev = _sql_list_literal(SYSLOG_SEVERITIES)
    return f"""
WITH base AS (
  SELECT doc_id, doc_id % 200 AS praw,
         'host prog: msg ' || CAST(doc_id AS VARCHAR) AS body
  FROM documents),
dec AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 OR praw > 191 THEN 13 ELSE praw END AS pri,
         CASE WHEN doc_id % 13 = 0 THEN body
              WHEN praw > 191 THEN '<' || CAST(praw AS VARCHAR) || '>' || body
              ELSE body END AS message
  FROM base)
SELECT doc_id,
       CAST(pri AS BIGINT) AS syslog_pri,
       CAST(pri // 8 AS BIGINT) AS syslog_facility_code,
       CAST(pri % 8 AS BIGINT) AS syslog_severity_code,
       ({fac})[pri // 8 + 1] AS syslog_facility,
       ({sev})[pri % 8 + 1] AS syslog_severity,
       message
FROM dec
"""


SQL_SYSLOG_PRI = _sql_syslog_pri()


def q_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv filter, parse direction (operators/filters.py): render a k=v
    line per event, parse it back into typed columns — the inverse
    of kv_serialize (publisher1.go:242-248). `extra` appears only on
    event_id % 7 = 0 lines (missing-key → NULL path); v_cents goes
    through the identical-IEEE floor-cents pattern so the roundtrip is
    integer-exact. One codegen'd Project, zero shuffle."""
    from .operators.filters import kv_extract

    e = _events(spark, sf_dir).select(
        "event_id",
        F.concat(
            F.lit("u_id="),
            F.col("user_id").cast("string"),
            F.lit(" etype="),
            F.col("event_type"),
            F.lit(" v_cents="),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("string"),
            F.when((F.col("event_id") % 7) == 0, F.lit(" extra=1")).otherwise(
                F.lit("")
            ),
        ).alias("kv"),
    )
    out = kv_extract(
        e, "kv", {"u_id": "long", "etype": "string", "v_cents": "long", "extra": "long"}
    )
    return out.select("event_id", "u_id", "etype", "v_cents", "extra")


SQL_KV_PARSE = """
SELECT event_id,
       CAST(user_id AS BIGINT) AS u_id,
       event_type AS etype,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
       CASE WHEN event_id % 7 = 0 THEN CAST(1 AS BIGINT) ELSE NULL END AS extra
FROM events
"""


def q_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split filter (operators/filters.py): one event per element of a
    multi-value field — here each selected doc's normalized text splits
    into one row per word with its 0-based position. posexplode is a
    row-local Generate (fan-out inside the scan task, no exchange): the
    100 TB plan is identical to the gate plan."""
    from .operators.filters import split_field

    d = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias(
                "parts_src"
            ),
        )
    )
    s = split_field(d, "parts_src", sep=" ", dest="word", idx="part_idx")
    return s.select(
        "doc_id", F.col("part_idx").cast("long").alias("part_idx"), "word"
    )


SQL_SPLIT_EVENTS = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents WHERE doc_id % 5 = 0)
SELECT doc_id, CAST(i - 1 AS BIGINT) AS part_idx, w[i] AS word
FROM words, UNNEST(generate_series(1, len(w))) AS t(i)
"""


def q_anonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anonymize + checksum filters (operators/filters.py): user_id is
    replaced by its sha256 (PII-safe join key — the hash is stable, so
    per-user analytics still group correctly), and each event carries an
    md5 content checksum over (event_id, user_id, event_type) — the
    exact-duplicate detection key across re-ships. The checksum hashes
    the ORIGINAL user_id (computed before anonymize). Hex strings are
    engine-portable; zero shuffle, zero Python."""
    from .operators.filters import anonymize_fields, checksum_field

    e = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    c = checksum_field(e, ["event_id", "user_id", "event_type"])
    a = anonymize_fields(c, ["user_id"])
    return a.select(
        "event_id", F.col("user_id").alias("user_anon"), "checksum"
    )


SQL_ANONYMIZE_EVENTS = """
SELECT event_id,
       sha256(CAST(user_id AS VARCHAR)) AS user_anon,
       md5(CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
           || '|' || event_type) AS checksum
FROM events
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the events stream — the telemetry
    question a log pipeline answers first ("do users come back?"):
    cohort = a user's first active ISO week; cell (cohort, offset) =
    distinct users of that cohort active offset weeks later.

    Scale shape: ONE distinct over (user, week) — map-side partial,
    output |users| x |weeks|, tiny vs the event stream — then a
    user-keyed min and a co-keyed join back (AQE reuses the hash
    partitioning), then a hash-agg to |cohorts| x |offsets| cells. The
    raw events shuffle once; nothing user-level ever windows."""
    e = _events(spark, sf_dir).select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        e.join(first, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(wk, cohort) DIV 7").cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


SQL_COHORT_RETENTION = """
WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
f AS (SELECT user_id, min(wk) AS cohort FROM a GROUP BY user_id)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user reaches
    a stage only via a strictly-later event than their previous stage
    (first view, first click AFTER that view, first purchase AFTER that
    click). Sequential semantics expressed as three user-keyed
    conditional-min aggregations chained by co-partitioned joins — no
    per-user event sorting, no window over raw events; each stage's
    state is one row per surviving user."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    one = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("stage"), F.count(F.lit(1)).cast("long").alias("n_users")
    )
    return one(t1, "1_view").union(one(t2, "2_click")).union(one(t3, "3_purchase"))


SQL_EVENT_FUNNEL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id)
SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM t1
UNION ALL
SELECT '2_click', CAST(count(*) AS BIGINT) FROM t2
UNION ALL
SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM t3
"""


# Integer-exact per-row revenue in cents (ADVICE r4): scale each 2-decimal
# parquet column to an integer SEPARATELY — price*100 and discount*100 are
# integer-valued doubles (exactly representable far past 2^53), so the floor
# is exact on BOTH engines whether the column is read as DOUBLE or DECIMAL —
# then do the discount multiply and the /100 rescale entirely in BIGINT.
# Spark's integer division is `DIV`; DuckDB's is `//` (its `/` returns DOUBLE
# — CLAUDE.md round-4 gotcha). Same definition on both sides by string reuse.
_CENTS_CORE = (
    "(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))"
)
_CENTS_EXPR = f"{_CENTS_CORE} DIV 100"  # Spark
_CENTS_SQL = f"{_CENTS_CORE} // 100"  # DuckDB


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-way join tree (region → nation → customer /
    supplier → orders → lineitem) with local-supply predicate
    (c_nationkey = s_nationkey): per-nation 1995 revenue for ASIA.
    The join-mix evidence at depth: region/nation HINTED broadcast (true
    constant-size dims), customer/supplier UNHINTED — they grow linearly
    with scale, so AQE/statistics pick broadcast at gate SF (plan-tested)
    and fall back to a shuffle join at 100× instead of OOMing the driver
    on a hard hint (VERDICT r4 #2); the one BIG join (orders ⋈ lineitem)
    on the co-key. Revenue is integer-exact: each 2-decimal column is
    scaled to integers SEPARATELY (price→cents, discount→pct, both
    exactly representable) before any multiply, so no float product ever
    feeds the compared column (ADVICE r4)."""
    r = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    cents = F.expr(_CENTS_EXPR)
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(
            F.broadcast(
                spark.read.parquet(f"{sf_dir}/nation.parquet").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(cents).cast("long").alias("revenue_cents")
    )


SQL_REGIONAL_REVENUE = f"""
SELECT n_name,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY n_name
"""


def q_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source token quota (operators/stats.py
    token_budget_cap): docs admitted in id order until the source's token
    budget is crossed — the hard-cap complement to mixture_weights.
    Two-level prefix sum: bucket hash-agg + tiny bucket window + bounded
    intra-bucket window (no window ever spans a whole source)."""
    from .operators.stats import token_budget_cap

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", _word_count().cast("long").alias("n_tok")
    )
    return token_budget_cap(d, budget=1000)


SQL_TOKEN_BUDGET_CAP = f"""
WITH d AS (
  SELECT doc_id, source, CAST({_N_WORDS_SQL} AS BIGINT) AS tok FROM documents),
c AS (
  SELECT doc_id, source, tok,
         CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
  FROM d)
SELECT doc_id, source, tok, cum_tok,
       CAST(CASE WHEN cum_tok - tok < 1000 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM c
"""


def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-style log template mining (operators/text.py
    log_template_stage): digit runs mask to <n>, first-6-masked-words
    template key, one template-keyed hash-agg with counts, token totals
    and a deterministic min-id example."""
    from .operators.text import log_template_stage

    return log_template_stage(_docs(spark, sf_dir), prefix_words=6)


SQL_LOG_TEMPLATES = r"""
WITH m AS (
  SELECT doc_id,
         regexp_replace(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                        '[0-9]+', '<n>', 'g') AS mt
  FROM documents),
w AS (SELECT doc_id, string_split(mt, ' ') AS wl FROM m)
SELECT array_to_string(list_slice(wl, 1, 6), ' ') AS template,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(wl)) AS BIGINT) AS tok_total,
       min(doc_id) AS example_doc
FROM w GROUP BY 1
"""


def q_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — 3-way star join: filtered customer dim joined
    into orders, orders shuffle-joined to lineitem on the co-key, top-10
    unshipped orders by integer-cent revenue. The join mix is the 100 TB
    plan: the filtered customer side is UNHINTED (customer grows linearly
    with scale — a hard F.broadcast hint would OOM the driver at 100×,
    VERDICT r4 #2); AQE/statistics pick BroadcastHashJoin at gate SF
    (plan-tested) and fall back to a shuffle join at scale. Big-big
    orders⋈lineitem → single orderkey exchange; top-k is TakeOrdered,
    never a global sort. Deterministic tiebreak on orderkey; revenue
    integer-exact per row (see _CENTS_EXPR)."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = F.expr(_CENTS_EXPR)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("long").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
    )


SQL_REVENUE_TOPK = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey ASC
LIMIT 10
"""


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate spike detection — the monitoring query a log pipeline
    runs over its own flow: per (event_type, hour) counts flagged when the
    hour runs ≥ 1.5× the mean of its six most recent OBSERVED hours
    (ROWS frame — deliberately rate-vs-recent-activity, robust to silent
    hours: a gap compares against the last activity, not empty wall-clock
    hours). Integer-exact: ``count * 6 * 2 >= 3 * trailing_sum`` avoids
    float entirely; hours with fewer than six observed predecessors are
    reported unflagged. streaming/anomaly.py is the live twin with the
    same rule.

    Scale shape: the window runs over the HOURLY AGGREGATE (one row per
    type×hour — tiny at any corpus scale), partitioned by event_type —
    never over raw events; one shuffle for the count, one re-key of the
    aggregate for the window."""
    e = _events(spark, sf_dir)
    hourly = (
        e.withColumn(
            "hour", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH")
        )
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-6, -1)
    )
    trailing_sum = F.sum("n_events").over(w)
    trailing_n = F.count("n_events").over(w)
    spike = (
        (trailing_n == 6)
        & (F.col("n_events") * 6 * 2 >= 3 * trailing_sum)
    )
    return hourly.select(
        "event_type",
        "hour",
        F.col("n_events").cast("long").alias("n_events"),
        F.coalesce(trailing_sum, F.lit(0)).cast("long").alias("trailing_sum"),
        spike.cast("long").alias("spike"),
    )


SQL_RATE_ANOMALY = """
WITH hourly AS (
  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
         count(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT event_type, hour, CAST(n_events AS BIGINT) AS n_events,
       CAST(coalesce(sum(n_events) OVER w, 0) AS BIGINT) AS trailing_sum,
       CAST(CASE WHEN count(n_events) OVER w = 6
                  AND n_events * 6 * 2 >= 3 * sum(n_events) OVER w
                 THEN 1 ELSE 0 END AS BIGINT) AS spike
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY hour ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
"""


def q_curation_ledger(
    spark: SparkSession, sf_dir: str, *, materialize: bool | None = None
) -> DataFrame:
    """The curation audit ledger — one row per doc with every removal
    rule's verdict (the provenance artifact a corpus pipeline ships so
    'why was this doc dropped?' is answerable): f_bench (eval-split
    member), f_dup (not its fingerprint group's min-id keeper), f_contam
    (non-bench doc sharing a 3-gram with the bench split), f_rep
    (duplicate-3-gram fraction > 5%, strict audit threshold), f_short
    (< 16 words), keep (no flag set).

    Composition of already-oracle-verified pieces: ONE logical
    shingle relation split by bench membership for the contamination
    join (broadcast bench side); fingerprint keeper = one hash-agg
    shuffle; repetition/word counts row-local in the counting kernel;
    final assembly = doc_id-keyed left joins of doc_id-only relations.
    Spark recomputes a DataFrame per DAG branch, so WITHOUT
    materialization the shingle kernel physically runs once per split —
    ``materialize=True`` (localCheckpoint) pins it to one pass. The
    default (None) decides by input size from the parquet FOOTER (a
    driver-side metadata read, no job): non-trivial corpora (> 2000
    docs — any production input) auto-materialize; the tiny oracle-gate
    fixtures stay lazy because re-running the kernel is cheaper than
    storing it. Explicit True/False still overrides (the seam the
    plan-count test drives). NULL text folds to the
    '' fingerprint/word group (coalesce on both engines) so the ledger
    keeps its one-row-per-doc contract for exactly the docs most likely
    to be dropped."""
    from .operators.curate import repetition_stats
    from .operators.dedup import _norm, shingle_hash_relation

    if materialize is None:
        try:
            import pyarrow.parquet as pq

            materialize = (
                pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
                > 2000
            )
        except Exception:
            materialize = False  # unreadable footer → lazy (safe default)

    d = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") % 97 == 0
    base = d.select(
        "doc_id",
        is_bench.cast("long").alias("f_bench"),
        F.md5(_norm(F.coalesce(F.col("text"), F.lit("")))).alias("_fp"),
    )
    keepers = base.groupBy("_fp").agg(F.min("doc_id").alias("_keeper"))
    dup = base.join(keepers, "_fp").select(
        "doc_id",
        "f_bench",
        (F.col("doc_id") != F.col("_keeper")).cast("long").alias("f_dup"),
    )
    rel = shingle_hash_relation(d)  # one logical relation, both splits below
    if materialize:
        rel = rel.localCheckpoint(eager=True)
    bench_sh = rel.filter(is_bench).select("sh").distinct()
    contam = (
        rel.filter(~is_bench)
        .join(F.broadcast(bench_sh), "sh")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1).cast("long").alias("f_contam"))
    )
    rep = repetition_stats(d, max_dup_pct=5).select(
        "doc_id",
        (F.lit(1) - F.col("keep")).cast("long").alias("f_rep"),
        (F.col("n_words") < 16).cast("long").alias("f_short"),
    )
    out = (
        dup
        .join(contam, "doc_id", "left")
        .join(rep, "doc_id")
        .withColumn("f_contam", F.coalesce("f_contam", F.lit(0)))
    )
    keep = (
        (F.col("f_bench") == 0)
        & (F.col("f_dup") == 0)
        & (F.col("f_contam") == 0)
        & (F.col("f_rep") == 0)
        & (F.col("f_short") == 0)
    )
    return out.select(
        "doc_id", "f_bench", "f_dup", "f_contam", "f_rep", "f_short",
        keep.cast("long").alias("keep"),
    )


SQL_CURATION_LEDGER = r"""
WITH fp AS (
  SELECT doc_id, md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))) AS f
  FROM documents),
keepers AS (SELECT f, min(doc_id) AS k FROM fp GROUP BY f),
words AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
contam AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN bench_sh USING (shingle)
  WHERE s.doc_id % 97 <> 0),
g AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
st AS (SELECT doc_id, count(*) AS tg, count(DISTINCT gram) AS dg FROM g GROUP BY doc_id)
SELECT wo.doc_id,
       CAST(CASE WHEN wo.doc_id % 97 = 0 THEN 1 ELSE 0 END AS BIGINT) AS f_bench,
       CAST(CASE WHEN wo.doc_id <> keepers.k THEN 1 ELSE 0 END AS BIGINT) AS f_dup,
       CAST(CASE WHEN contam.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS f_contam,
       CAST(CASE WHEN (coalesce(st.tg, 0) - coalesce(st.dg, 0)) * 100
                      > 5 * coalesce(st.tg, 0) THEN 1 ELSE 0 END AS BIGINT) AS f_rep,
       CAST(CASE WHEN len(wo.w) < 16 THEN 1 ELSE 0 END AS BIGINT) AS f_short,
       CAST(CASE WHEN wo.doc_id % 97 <> 0 AND wo.doc_id = keepers.k
                  AND contam.doc_id IS NULL
                  AND (coalesce(st.tg, 0) - coalesce(st.dg, 0)) * 100 <= 5 * coalesce(st.tg, 0)
                  AND len(wo.w) >= 16
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM words wo
JOIN fp ON fp.doc_id = wo.doc_id
JOIN keepers ON keepers.f = fp.f
LEFT JOIN contam ON contam.doc_id = wo.doc_id
LEFT JOIN st ON st.doc_id = wo.doc_id
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring (operators/lm.py — the
    CCNet/Gopher curation signal): an MLE bigram model is trained on the
    corpus itself (two vocab-sized hash-aggs over a row-locally built
    bigram relation), then every document is scored by how well the
    model predicts it. The compared columns are the INTEGER-division
    witness of the model counts (``(cb * 1e6) div cw`` summed per doc —
    bit-exact on any engine); the production log-prob score is a DOUBLE
    projection the registered query drops per the house float ban.
    Scale shape: the model relation is realized-vocab-sized (never
    corpus-sized); the scoring join is a bounded-key equi-join AQE
    broadcasts at every test SF."""
    from .operators.lm import lm_score

    return lm_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_bigrams", "cond_ppm_sum", "mean_cond_ppm"
    )


SQL_LM_SCORE = r"""
WITH ws AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM ws, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2),
cw AS (SELECT w1, count(*) AS cw FROM bg GROUP BY w1),
cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
sc AS (
  SELECT bg.doc_id, cb.cb, cw.cw
  FROM bg JOIN cb USING (w1, w2) JOIN cw USING (w1))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum((cb * 1000000) // cw) AS BIGINT) AS cond_ppm_sum,
       CAST(sum((cb * 1000000) // cw) // count(*) AS BIGINT) AS mean_cond_ppm
FROM sc
GROUP BY doc_id
"""


def q_es_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bulk-API serialization (operators/route.py es_bulk_stage —
    the forwarder's events' actual destination format downstream of
    logstash). Index name routes per event_type; the source document
    carries only engine-portable scalars (BIGINT ids/cents, a formatted
    timestamp string) so the rendered JSON is oracle-exact; value rides
    the house _cents witness. Row-local Project, zero shuffle."""
    from .operators.route import es_bulk_stage

    e = _events(spark, sf_dir).select(
        "event_id",
        F.concat(F.lit("events-"), F.col("event_type")).alias("idx"),
        F.col("user_id"),
        _cents(F.col("value")).alias("value_cents"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )
    out = es_bulk_stage(e, "idx", "event_id", ["user_id", "value_cents", "ts_s"])
    return out.select("event_id", "bulk")


SQL_ES_BULK = r"""
SELECT event_id,
       '{"index":{"_index":"events-' || event_type || '","_id":"'
       || CAST(event_id AS VARCHAR) || '"}}' || chr(10)
       || '{"user_id":' || CAST(user_id AS VARCHAR)
       || ',"value_cents":' || CAST(floor(value * 100 + 0.5) AS BIGINT)
       || ',"ts_s":"' || strftime(ts, '%Y-%m-%d %H:%M:%S') || '"}' AS bulk
FROM events
"""


# BPE merge table for the gated query — trained by operators/bpe.py
# train_bpe_spark on the sf0.01 documents corpus (n_merges=32,
# min_count=2; fully deterministic, retrainable with that one call).
# Hardcoded because the oracle SQL must embed the SAME table as
# literals; production callers train their own via train_bpe_spark.
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (operators/bpe.py — train on a word-freq
    table, apply via a broadcast-merges mapInPandas kernel with a
    per-task word memo; zero shuffle). Gated with a FIXED trained
    merge table so the oracle can replay the identical single-pass
    rank-order apply as a chain of sentinel-wrapped global string
    replaces (an independent formulation of the same algorithm — see
    the module docstring's equivalence proof). Compared columns:
    word/token counts (BIGINT) and an md5 fingerprint of the full
    token stream (word boundaries observable as ``" "`` tokens)."""
    from .operators.bpe import bpe_encode

    enc = bpe_encode(_docs(spark, sf_dir), BPE_MERGES)
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.md5(F.array_join("tokens", "|")).alias("tokens_fp"),
    )


def _bpe_oracle_sql(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of the single-pass rank-order apply: every token is
    wrapped as ``,tok,``; merge (a,b) is ONE global leftmost
    ``replace(',a,,b,', ',ab,')`` (sentinels make partial-token matches
    impossible; the shared boundary comma is preserved because each
    token carries BOTH its own sentinels). Built from the same literal
    table the Spark query uses."""
    expr = (
        "array_to_string(list_transform(regexp_extract_all(t, '.'),"
        " c -> ',' || c || ','), '')"
    )
    for a, b in merges:
        expr = f"replace({expr}, ',{a},,{b},', ',{a}{b},')"
    return rf"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(
                regexp_replace(lower(text), '\s+', ' ', 'g'),
                '[^a-z0-9 ]', '', 'g'),
              '  +', ' ', 'g')) AS t
  FROM documents),
enc AS (
  SELECT doc_id, t,
         CASE WHEN t = '' THEN []
              ELSE string_split(trim({expr}, ','), ',,') END AS toks
  FROM norm)
SELECT doc_id,
       CAST(CASE WHEN t = '' THEN 0 ELSE len(string_split(t, ' ')) END AS BIGINT)
         AS n_words,
       CAST(len(list_filter(toks, x -> x <> ' ')) AS BIGINT) AS n_tokens,
       md5(coalesce(array_to_string(toks, '|'), '')) AS tokens_fp
FROM enc
"""


SQL_BPE_ENCODE = _bpe_oracle_sql(BPE_MERGES)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (operators/aggregate.py skew_report): per
    hottest event_type, row count, integer-ppm corpus share, and the
    salt bucket count that bounds any (key, salt) group to the target —
    what a hash salt on that key needs where Spark cannot combine rows
    map-side (a non-algebraic aggregate, a skewed join side). One hash-agg
    to the key domain + a broadcast 1-row total; TakeOrdered top-k."""
    from .operators.aggregate import skew_report

    return skew_report(
        _events(spark, sf_dir), "event_type", target_rows=500, top_k=10
    )


SQL_SKEW_REPORT = r"""
WITH c AS (
  SELECT CAST(event_type AS VARCHAR) AS key, count(*) AS n_rows
  FROM events GROUP BY 1),
t AS (SELECT sum(n_rows) AS total FROM c)
SELECT key,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST((n_rows * 1000000) // total AS BIGINT) AS share_ppm,
       CAST((n_rows + 499) // 500 AS BIGINT) AS salt_buckets
FROM c, t
ORDER BY n_rows DESC, key
LIMIT 10
"""


def q_hll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL (operators/sketch.py hll_registers_by): one register
    relation PER SOURCE — the per-source vocabulary-growth monitor,
    ≤ m × |sources| rows from ONE (source, register) hash-agg with
    map-side combine and no distinct shuffle anywhere. Same portable
    bin()-rank arithmetic as hll_shingles, so the oracle rebuilds every
    register per group."""
    from .operators.sketch import hll_registers_by

    hs = _portable_shingle_hashes_raw(_docs(spark, sf_dir), keep=("source",))
    return hll_registers_by(hs, "source", "h", m=64).select(
        F.col("grp").alias("source"), "register", "max_rank"
    )


SQL_HLL_BY_SOURCE = r"""
WITH words AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
h2 AS (
  SELECT source,
         ((('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1073741789)
          * 2029 + 64763) % 1073741789 AS h2
  FROM sh)
SELECT source,
       CAST(h2 % 64 AS BIGINT) AS register,
       CAST(max(CASE WHEN h2 // 64 = 0 THEN 25
                     ELSE 25 - length(bin(h2 // 64)) END) AS BIGINT) AS max_rank
FROM h2 GROUP BY 1, 2
"""


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (operators/pack.py shard_plan — the
    export stage's balance report): rows and char-weight per shard
    under the deterministic portable md5 assignment (seedless-stable
    across reruns/cluster sizes, uniform regardless of key skew). ONE
    n_shards-row hash-agg with map-side combine."""
    from .operators.pack import shard_plan

    return shard_plan(
        _docs(spark, sf_dir), 16, key_col="doc_id", weight_col="n_chars"
    )


SQL_SHARD_PLAN = r"""
SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16
            AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS weight_total
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# round 6: curriculum sharding, cross-source novelty, boilerplate mining,
# dedup-cluster reporting
# ---------------------------------------------------------------------------


def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum shard assignment (operators/stats.py
    curriculum_buckets): docs ranked globally by (word count, doc_id) and
    cut into 8 near-equal shards — short-to-long training order, and the
    length-homogeneous precursor that makes packing padding-free. The
    rank is EXACT with NO global sort: per-length histogram (bounded
    domain) for the base + a skew-proof two-level prefix sum within each
    length, so no window partition exceeds one id-bucket even when a
    single length holds billions of docs. Shard = (rank-1)*8 DIV total —
    pure integer math, reproduced bit-exactly by the oracle's
    row_number() twin."""
    from .operators.stats import curriculum_buckets

    nw = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
        ).alias("n_words"),
    )
    # footer metadata replaces two small driver jobs (id-range probe +
    # total count); both parameters are output-invariant (operator doc)
    import pyarrow.parquet as _pq

    pf = _pq.ParquetFile(f"{sf_dir}/documents.parquet")
    n_rows = pf.metadata.num_rows
    ranked = curriculum_buckets(
        nw,
        8,
        len_col="n_words",
        id_col="doc_id",
        # ids need not be dense; any width >= range/65536 keeps the bucket
        # relation bounded, and the rank is width-invariant — derive from
        # a row-count upper bound instead of a min/max job
        bucket_width=max(1024, -(-(n_rows * 4) // 65536)),
        total=n_rows,
    )
    return ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        F.sum("n_words").cast("long").alias("words_total"),
    )


SQL_CURRICULUM_BUCKETS = r"""
WITH w AS (
  SELECT doc_id,
         len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ')) AS n_words
  FROM documents),
r AS (
  SELECT doc_id, n_words,
         row_number() OVER (ORDER BY n_words, doc_id) AS rn,
         count(*) OVER () AS total
  FROM w)
SELECT CAST((rn - 1) * 8 // total AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_words) AS BIGINT) AS min_words,
       CAST(max(n_words) AS BIGINT) AS max_words,
       CAST(sum(n_words) AS BIGINT) AS words_total
FROM r
GROUP BY 1
"""


def q_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram novelty — per source: how many distinct word
    3-gram hashes it holds, and how many appear in NO other source. The
    crawl-redundancy question ("does this new source add anything?")
    asked before paying to ingest it.

    Scale shape: raw (source, h) occurrences collapse in ONE gram-keyed
    hash-agg to collect_set(source) — the set is bounded by |sources|
    (dozens), NOT doc count, and map-side partial sets keep the exchange
    at distinct-gram grain; a second tiny source-keyed agg finishes. No
    gram-gram join, no distinct-then-join double exchange. Same portable
    shingle hash as the minhash witness so the DuckDB twin replays every
    gram bit-exactly (collisions included — both engines see the same
    collided hash space)."""
    grams = _portable_shingle_hashes_raw(
        _docs(spark, sf_dir), keep=("source",)
    ).select("source", "h")
    per_gram = grams.groupBy("h").agg(F.collect_set("source").alias("_srcs"))
    return (
        per_gram.select(
            F.explode("_srcs").alias("source"),
            (F.size("_srcs") == 1).cast("long").alias("_excl"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("_excl").cast("long").alias("n_exclusive"),
        )
    )


SQL_SOURCE_NOVELTY = r"""
WITH words AS (
  SELECT source,
         regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
sh AS (
  SELECT source,
         ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT
           % 1073741789 AS h
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
sg AS (SELECT DISTINCT source, h FROM sh),
pg AS (SELECT h, count(*) AS ns FROM sg GROUP BY 1)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive
FROM sg JOIN pg USING (h)
GROUP BY source
"""


def q_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: documents sharing their first-8-word prefix
    (md5 fingerprint of the normalized prefix) — the cheap detector for
    template headers, cookie banners, and licence blurbs that exact
    dedup misses because the tails differ. One prefix-keyed hash-agg
    (map-side combine; output is distinct-prefix-sized); clusters of
    >= 2 docs surface with their min-id exemplar."""
    d = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    prefix = F.array_join(F.slice(F.split(norm, " "), 1, 8), " ")
    return (
        d.select("doc_id", F.md5(prefix).alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("example_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


SQL_BOILERPLATE_PREFIXES = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents)
SELECT md5(array_to_string(w[1:8], ' ')) AS prefix_fp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS example_doc
FROM w
GROUP BY 1
HAVING count(*) >= 2
"""


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup tier's reporting
    face: per exact-fingerprint cluster size, how many clusters and how
    many docs (so "dedup would drop docs_total - n_clusters rows per
    size class" reads straight off). Two hash-aggs, the second over the
    distinct-fingerprint relation; the histogram itself is at most
    |max cluster size| rows.

    The sf corpus is dup-free, so the gated run unions it with a
    deterministic replay fixture (every 3rd doc re-ships with doubled
    whitespace, every 9th a third time with a leading space — the
    rotated-copy shape the tail daemon dedups) to exercise cluster
    sizes 1/2/3 AND the whitespace normalization both engines must
    agree on."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    replay2 = d.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.concat("text", F.lit("  ")).alias("text"),
    )
    replay3 = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), "text").alias("text"),
    )
    allr = d.unionByName(replay2).unionByName(replay3)
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    clusters = allr.select(fp.alias("fp")).groupBy("fp").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("docs_total"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "docs_total",
    )


SQL_DUP_CLUSTER_SIZES = r"""
WITH allr AS (
  SELECT text FROM documents
  UNION ALL
  SELECT text || '  ' FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT ' ' || text FROM documents WHERE doc_id % 9 = 0),
fp AS (
  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
  FROM allr),
c AS (SELECT fp, count(*) AS cluster_size FROM fp GROUP BY 1)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS docs_total
FROM c
GROUP BY 1
"""


def q_perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split — THE standard LLM
    curation move: score every doc with the bigram LM (operators/lm.py,
    the integer ppm witness), cut each source at its own p33/p66 score
    quantiles (exact, via the bounded-domain histogram machinery of
    stats.length_quantiles — ppm scores live in [0, 10^6], so the
    histogram is domain-sized, never corpus-sized), and report per
    (source, tier): docs and bigram mass. Higher mean_cond_ppm = better
    predicted = head.

    Scale shape: scoring per lm_score's dossier entry; the per-source
    thresholds are a |sources|-row broadcast back onto the scored
    relation; tier assignment is row-local. No per-source global window
    ever sees the raw docs."""
    from .operators.lm import lm_score
    from .operators.stats import length_quantiles

    d = _docs(spark, sf_dir)
    scored = lm_score(d).select("doc_id", "n_bigrams", "mean_cond_ppm")
    # (r8 note: pinning this relation with localCheckpoint was measured
    # SLOWER — 2.42 s vs 1.87 s at sf0.1 — the eager materialization
    # serializes the LM pipeline into its own job, costing more than the
    # branch recompute it saves; left un-pinned deliberately)
    withsrc = scored.join(d.select("doc_id", "source"), "doc_id")
    cuts = length_quantiles(
        withsrc, group_col="source", value_col="mean_cond_ppm", pcts=(33, 66)
    ).select("source", "p33", "p66")
    tier = (
        F.when(F.col("mean_cond_ppm") > F.col("p66"), F.lit("head"))
        .when(F.col("mean_cond_ppm") > F.col("p33"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        withsrc.join(F.broadcast(cuts), "source")
        .withColumn("tier", tier)
        .groupBy("source", "tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("bigram_total"),
        )
    )


SQL_PERPLEXITY_TIERS = r"""
WITH ws AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM ws, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2),
cw AS (SELECT w1, count(*) AS cw FROM bg GROUP BY w1),
cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
sc AS (
  SELECT bg.doc_id, cb.cb, cw.cw
  FROM bg JOIN cb USING (w1, w2) JOIN cw USING (w1)),
scored AS (
  SELECT doc_id,
         count(*) AS n_bigrams,
         sum((cb * 1000000) // cw) // count(*) AS mean_cond_ppm
  FROM sc GROUP BY doc_id),
ss AS (
  SELECT s.doc_id, s.n_bigrams, s.mean_cond_ppm, d.source
  FROM scored s JOIN documents d USING (doc_id)),
h AS (SELECT source, mean_cond_ppm, count(*) AS cnt FROM ss
      GROUP BY source, mean_cond_ppm),
c AS (SELECT source, mean_cond_ppm,
             sum(cnt) OVER (PARTITION BY source ORDER BY mean_cond_ppm) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM h),
cuts AS (
  SELECT source,
         min(CASE WHEN cum*100 >= 33*n THEN mean_cond_ppm END) AS p33,
         min(CASE WHEN cum*100 >= 66*n THEN mean_cond_ppm END) AS p66
  FROM c GROUP BY source)
SELECT ss.source,
       CASE WHEN ss.mean_cond_ppm > cuts.p66 THEN 'head'
            WHEN ss.mean_cond_ppm > cuts.p33 THEN 'middle'
            ELSE 'tail' END AS tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ss.n_bigrams) AS BIGINT) AS bigram_total
FROM ss JOIN cuts USING (source)
GROUP BY 1, 2
"""


def q_consecutive_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate suppression — the logstash throttle/dedup
    idiom for chatty emitters (drop an event identical to the PREVIOUS
    event of the same stream; a crash-looping service logging the same
    line 10^6 times ships once per change of message). Per (user_id)
    stream ordered by (ts, event_id): keep a row unless its event_type
    equals the previous row's. ONE user-keyed exchange; the lag window
    partitions by stream (bounded by per-stream volume — the same
    partition the sessionizer already uses), never the whole corpus.
    Output: per (user_id): events in, events kept — the suppression
    report."""
    e = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    kept = (
        e.withColumn("_prev", F.lag("event_type").over(w))
        .withColumn(
            "_keep",
            (F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
            .cast("long"),
        )
    )
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("_keep").cast("long").alias("n_kept"),
    )


SQL_CONSECUTIVE_DEDUP = r"""
WITH l AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM l
GROUP BY user_id
"""


def q_lumberjack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lumberjack v1 wire fidelity (operators/lumberjack.py — the
    reference's literal transport framing, PROTOCOL.md:46-118 /
    publisher1.go:224-248): documents rendered as the writer's
    file/host/offset/line pair maps, encoded into 1W + 1C(zlib(1D...))
    payload blobs, decoded back per the protocol, and re-projected.
    Hash-equality with the plain relation proves every byte survives
    the wire — sequences included (coalesce(1) makes the stream
    connection-like so sequence == global rank; the operator itself is
    per-partition/no-shuffle)."""
    from .operators.lumberjack import events_to_frames, frames_to_events

    ev = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("source").alias("file"),
        F.lit("lfs-host").alias("host"),
        F.col("doc_id").cast("string").alias("offset"),
        F.col("text").alias("line"),
    )
    frames = events_to_frames(
        ev.coalesce(1),
        ["file", "host", "offset", "line"],
        order_col="doc_id",
        frames_per_payload=128,
    )
    dec = frames_to_events(frames, ["file", "offset", "line"])
    return dec.select(
        F.col("sequence").cast("long").alias("sequence"),
        F.col("offset").cast("long").alias("doc_id"),
        F.col("file").alias("source"),
        "line",
    )


SQL_LUMBERJACK_ROUNDTRIP = r"""
SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS sequence,
       doc_id, source, text AS line
FROM documents
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText document-quality rule composite (operators/
    curate.py gopher_rules): word-count bounds, mean-word-length bounds
    (×100 fixed point), minimum DISTINCT stopwords, per-rule flags +
    final keep. Fully row-local — zero shuffles, codegen throughout."""
    from .operators.curate import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


# thresholds mirror gopher_rules' defaults; list_contains is DuckDB's
# array_contains; floor((chars - (words-1)) * 100.0 / words) is the same
# exact-in-double op sequence Spark runs (numerator < 2^53)
SQL_GOPHER_QUALITY = r"""
WITH w AS (
  SELECT doc_id,
         string_split(coalesce(text, ''), ' ') AS ws,
         length(coalesce(text, '')) AS n_chars
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(CASE WHEN len(ws) > 0
                   THEN floor((n_chars - (len(ws) - 1)) * 100.0 / len(ws))
                   ELSE 0 END AS BIGINT) AS mean_word_len_x100,
         CAST(CAST(list_contains(ws, 'the') AS INT) + CAST(list_contains(ws, 'a') AS INT)
            + CAST(list_contains(ws, 'and') AS INT) + CAST(list_contains(ws, 'of') AS INT)
            + CAST(list_contains(ws, 'to') AS INT) + CAST(list_contains(ws, 'in') AS INT)
            + CAST(list_contains(ws, 'is') AS INT) + CAST(list_contains(ws, 'it') AS INT)
           AS BIGINT) AS distinct_stops
  FROM w)
SELECT doc_id, n_words, mean_word_len_x100, distinct_stops,
       CAST(CASE WHEN n_words BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS BIGINT) AS rule_len,
       CAST(CASE WHEN mean_word_len_x100 BETWEEN 350 AND 430 THEN 1 ELSE 0 END AS BIGINT) AS rule_mwl,
       CAST(CASE WHEN distinct_stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS rule_stop,
       CAST(CASE WHEN n_words BETWEEN 20 AND 80
                  AND mean_word_len_x100 BETWEEN 350 AND 430
                  AND distinct_stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM m
"""


def q_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-frequency spectrum over word bigrams — counts-of-counts with
    a tail bucket (operators/curate.py freq_spectrum): the Zipf
    diagnostic behind vocab sizing / Good-Turing. Two map-side-
    combinable hash-aggs, the first type-bounded, the second ≤ max_c+1
    groups."""
    from .operators.curate import freq_spectrum

    return freq_spectrum(_docs(spark, sf_dir), ngram=2, max_c=50)


SQL_FREQ_SPECTRUM = r"""
WITH words AS (
  SELECT string_split(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
g AS (
  SELECT w[i] || ' ' || w[i+1] AS gram
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2),
cnt AS (
  SELECT gram, count(*) AS c FROM g WHERE gram <> '' GROUP BY gram)
SELECT CAST(CASE WHEN c <= 50 THEN c ELSE 51 END AS BIGINT) AS freq,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(c) AS BIGINT) AS token_mass
FROM cnt
GROUP BY 1
"""


def q_part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo-type revenue share: lineitem ⋈ part on
    partkey (UNHINTED: AQE/statistics broadcast the part side at gate SF
    and fall back to a shuffle join at 100× — part grows with scale,
    regional_revenue's r4 lesson), 1995 shipdate pushdown on the fact
    scan, conditional aggregation, and a basis-points share in pure
    BIGINT (guarded integer division — no float ever feeds a compared
    column). Closes the one driver table no query exercised (part)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand", "p_type"
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    cents = F.expr(_CENTS_EXPR)
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(cents).cast("long").alias("revenue_cents"),
            F.sum(F.when(F.col("p_type") == "ECONOMY", cents).otherwise(0))
            .cast("long")
            .alias("economy_cents"),
        )
    )
    return agg.select(
        "p_brand",
        "revenue_cents",
        "economy_cents",
        F.when(
            F.col("revenue_cents") > 0,
            F.expr("economy_cents * 10000 DIV revenue_cents"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("economy_share_bps"),
    )


SQL_PART_TYPE_SHARE = f"""
WITH j AS (
  SELECT p_brand, p_type, {_CENTS_SQL} AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1996-01-01')
SELECT p_brand,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN cents ELSE 0 END) AS BIGINT)
         AS economy_cents,
       CAST(CASE WHEN sum(cents) > 0
                 THEN (sum(CASE WHEN p_type = 'ECONOMY' THEN cents ELSE 0 END)
                       * 10000) // sum(cents)
                 ELSE 0 END AS BIGINT) AS economy_share_bps
FROM j
GROUP BY p_brand
"""


def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid outliers (operators/similarity.py
    label_centroid_outliers): cosine of every embedding to its own
    label's centroid, 1e-4 fixed point + outlier flag — the embedding-
    based mislabel/off-distribution curation filter. Two Arrow kernel
    passes; the only driver pull is |labels|-bounded partials."""
    from .operators.similarity import label_centroid_outliers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return label_centroid_outliers(emb, threshold_x1e4=0)


# centroid = per-(label, i) avg; cosine quantized to 1e-4 on BOTH sides
# and the flag derives from the QUANTIZED value (operator docstring's
# precision contract). generate_series unnest — WITH ORDINALITY is not
# implemented in this DuckDB.
SQL_CENTROID_OUTLIERS = r"""
WITH u AS (
  SELECT vec_id, label, i, embedding[i] AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)),
c AS (
  SELECT label, i, avg(v) AS cv FROM u GROUP BY label, i),
s AS (
  SELECT u.vec_id, u.label,
         sum(u.v * c.cv) AS dot,
         sum(u.v * u.v) AS n1,
         sum(c.cv * c.cv) AS n2
  FROM u JOIN c ON u.label = c.label AND u.i = c.i
  GROUP BY u.vec_id, u.label),
q AS (
  SELECT vec_id, label,
         CAST(floor(dot / sqrt(n1 * n2) * 10000) AS BIGINT) AS cos_x1e4
  FROM s)
SELECT vec_id, CAST(label AS INT) AS label, cos_x1e4,
       CAST(CASE WHEN cos_x1e4 < 0 THEN 1 ELSE 0 END AS BIGINT) AS outlier
FROM q
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/dedup.py winnow_fingerprints —
    Schleimer/Wilkerson/Aiken MOSS, k=3, w=4): per doc, the selected
    (pos, fp) local fingerprints with the rightmost-min tie rule.
    Row-local kernel, zero shuffle; the md5-mod-P portable hash family
    plus a single BIGINT min-key make DuckDB reproduce every selection
    bit-exactly."""
    from .operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=3, w=4)


# Window semantics mirror the kernel exactly: per-position k-gram hash
# (md5-mod-P), rightmost-min tie rule encoded as min over
# key = h * 2^33 + (2^33 - 1 - pos), windows of w=4 hashes evaluated at
# END positions e >= min(w, m) - 1 (one truncated window when a doc has
# fewer than w grams), DISTINCT selections per doc.
SQL_WINNOW_FINGERPRINTS = r"""
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
  FROM documents),
g AS (
  SELECT doc_id,
         i - 1 AS pos,
         len(w) - 2 AS m,
         ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT
           % 1073741789 AS h
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3),
keyd AS (
  SELECT doc_id, pos, m,
         h * 8589934592 + (8589934591 - pos) AS key
  FROM g),
win AS (
  SELECT doc_id, pos, m,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wkey
  FROM keyd),
sel AS (
  SELECT DISTINCT doc_id, wkey
  FROM win
  WHERE pos >= CASE WHEN m >= 4 THEN 3 ELSE m - 1 END)
SELECT doc_id,
       CAST(8589934591 - (wkey % 8589934592) AS BIGINT) AS pos,
       CAST(wkey // 8589934592 AS BIGINT) AS fp
FROM sel
"""


def q_winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware near-dup pairs from winnowing fingerprints
    (operators/dedup.py winnow_near_dup_pairs — MOSS's match step):
    docs sharing ≥3 selected fingerprints, DF-capped before the
    self-join. One fp-keyed exchange; density 2/(w+1) moves far fewer
    keys than the full-shingle Jaccard join."""
    from .operators.dedup import winnow_near_dup_pairs

    return winnow_near_dup_pairs(
        _docs(spark, sf_dir), k=3, w=4, min_shared=3, max_fp_df=50
    )


SQL_WINNOW_NEAR_DUP = (
    "WITH fps AS (SELECT DISTINCT doc_id, fp FROM ("
    + SQL_WINNOW_FINGERPRINTS
    + r""")),
dfc AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp),
capped AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfc USING (fp) WHERE dfc.c <= 50)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
"""
)


# ---------------------------------------------------------------------------
# the public registry
# ---------------------------------------------------------------------------

# Ordering matters: the driver's DuckDB gate verifies only the FIRST 50
# entries (proven in VERDICT.md round 3, "What's wrong #1"), while
# tools/check_oracle.py gates ALL entries every session.
#
# ROTATION (revised r7; VERDICT r6 "What's wrong #1"): the order is no
# longer hand-maintained. ``registry()`` sorts the names below by
# last-driver-checked round ascending — never-checked first — via
# logstash_forwarder_spark/rotation.py, re-derived from the
# CORRECTNESS_r*.json history at call time, so the window always leads
# with the stalest entries and every entry gets a driver row at least
# every ceil(N/50) rounds. The literal order of this dict is only the
# deterministic TIEBREAK within a staleness class (and where new,
# never-driver-checked queries should be declared near related ones).
# tools/check_rotation.py independently verifies the emitted order;
# tests/test_rotation.py gates it, including against a simulated future
# CORRECTNESS artifact (round-entry redness is structurally impossible).
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # -- r6 window: the 12 entries that had NEVER had a driver row
    # (VERDICT r5 "What's missing #1") enter first --
    "clone_range": (q_clone_range, SQL_CLONE_RANGE),
    "dns_lookup": (q_dns_lookup, SQL_DNS_LOOKUP),
    "metricize": (q_metricize, SQL_METRICIZE),
    "cipher_roundtrip": (q_cipher_roundtrip, SQL_CIPHER_ROUNDTRIP),
    # greedy first-wins + engine-specific hashing → rows-only by design
    "incremental_dedup": (q_incremental_dedup, None),
    "incremental_dedup_exact": (q_incremental_dedup_exact, SQL_INCREMENTAL_DEDUP_EXACT),
    "lm_score": (q_lm_score, SQL_LM_SCORE),
    "es_bulk": (q_es_bulk, SQL_ES_BULK),
    "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
    "skew_report": (q_skew_report, SQL_SKEW_REPORT),
    "hll_by_source": (q_hll_by_source, SQL_HLL_BY_SOURCE),
    "shard_plan": (q_shard_plan, SQL_SHARD_PLAN),
    # -- new in round 7 (never driver-checked → rotation puts them at the
    # head of the window automatically) --
    "gopher_quality": (q_gopher_quality, SQL_GOPHER_QUALITY),
    "freq_spectrum": (q_freq_spectrum, SQL_FREQ_SPECTRUM),
    "centroid_outliers": (q_centroid_outliers, SQL_CENTROID_OUTLIERS),
    "part_type_share": (q_part_type_share, SQL_PART_TYPE_SHARE),
    "winnow_fingerprints": (q_winnow_fingerprints, SQL_WINNOW_FINGERPRINTS),
    "winnow_near_dup": (q_winnow_near_dup, SQL_WINNOW_NEAR_DUP),
    # -- new in round 6 --
    "curriculum_buckets": (q_curriculum_buckets, SQL_CURRICULUM_BUCKETS),
    "source_novelty": (q_source_novelty, SQL_SOURCE_NOVELTY),
    "boilerplate_prefixes": (q_boilerplate_prefixes, SQL_BOILERPLATE_PREFIXES),
    "dup_cluster_sizes": (q_dup_cluster_sizes, SQL_DUP_CLUSTER_SIZES),
    "lumberjack_roundtrip": (q_lumberjack_roundtrip, SQL_LUMBERJACK_ROUNDTRIP),
    "perplexity_tiers": (q_perplexity_tiers, SQL_PERPLEXITY_TIERS),
    "consecutive_dedup": (q_consecutive_dedup, SQL_CONSECUTIVE_DEDUP),
    # -- stalest entries next: last driver row r4; the window cut-off
    # falls inside this block, overflow is due in r7 --
    "resume_anti_join": (q_resume_anti_join, SQL_RESUME_ANTI_JOIN),
    "registrar_max_offset": (q_registrar_max_offset, SQL_REGISTRAR_MAX_OFFSET),
    "sink_source_counts": (q_sink_source_counts, SQL_SINK_SOURCE_COUNTS),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "media_decode": (q_media_decode, SQL_MEDIA_DECODE),
    "grouped_median": (q_grouped_median, SQL_GROUPED_MEDIAN),
    # exhaustive-probe IVF / LSH / PQ-refine are exact → brute-force oracle
    "similarity_ivf": (q_similarity_ivf, SQL_SIMILARITY_TOPK),
    "similarity_lsh": (q_similarity_lsh, SQL_SIMILARITY_TOPK),
    "similarity_topk": (q_similarity_topk, SQL_SIMILARITY_TOPK),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "chunk_overlap": (q_chunk_overlap, SQL_CHUNK_OVERLAP),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "corpus_clean": (q_corpus_clean, SQL_CORPUS_CLEAN),
    "harvest_lines": (q_harvest_lines, SQL_HARVEST_LINES),
    "json_harvest": (q_json_harvest, SQL_JSON_HARVEST),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "dedup_clusters_star": (q_dedup_clusters_star, SQL_DEDUP_CLUSTERS),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "repetition": (q_repetition, SQL_REPETITION),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "token_quantiles": (q_token_quantiles, SQL_TOKEN_QUANTILES),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "parse_extract": (q_parse_extract, SQL_PARSE_EXTRACT),
    "enrich_broadcast": (q_enrich_broadcast, SQL_ENRICH_BROADCAST),
    "enrich_agg": (q_enrich_agg, SQL_ENRICH_AGG),
    "route_fanout": (q_route_fanout, SQL_ROUTE_FANOUT),
    "minhash_portable": (q_minhash_portable, SQL_MINHASH_PORTABLE),
    "simhash_portable": (q_simhash_portable, SQL_SIMHASH_PORTABLE),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    # (no window marker: the 50-entry driver window is computed by
    # registry() from the CORRECTNESS history — see rotation.py)
    "rate_anomaly": (q_rate_anomaly, SQL_RATE_ANOMALY),
    "curation_ledger": (q_curation_ledger, SQL_CURATION_LEDGER),
    "shift_labels": (q_shift_labels, SQL_SHIFT_LABELS),
    "edit_near_dup": (q_edit_near_dup, SQL_EDIT_NEAR_DUP),
    "mixture_weights": (q_mixture_weights, SQL_MIXTURE_WEIGHTS),
    "rebalance_corpus": (q_rebalance_corpus, SQL_REBALANCE_CORPUS),
    "span_cut": (q_span_cut, SQL_SPAN_CUT),
    "token_budget_cap": (q_token_budget_cap, SQL_TOKEN_BUDGET_CAP),
    "log_templates": (q_log_templates, SQL_LOG_TEMPLATES),
    "audio_decode": (q_audio_decode, SQL_AUDIO_DECODE),
    "video_decode": (q_video_decode, SQL_VIDEO_DECODE),
    "grok_parse": (q_grok_parse, SQL_GROK_PARSE),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "event_funnel": (q_event_funnel, SQL_EVENT_FUNNEL),
    # engine-specific hashing → rows-only by design (bit-exact portable
    # witnesses: minhash_portable / simhash_portable above)
    "minhash_lsh": (q_minhash_lsh, None),
    "simhash": (q_simhash, None),
    # -- r5-certified tail (all driver-green in CORRECTNESS_r05; due back
    # per staleness order; still gated every session by check_oracle) --
    "grok_combined": (q_grok_combined, SQL_GROK_COMBINED),
    "similarity_pq": (q_similarity_pq, SQL_SIMILARITY_TOPK),
    "similarity_ivf_pq": (q_similarity_ivf_pq, SQL_SIMILARITY_TOPK),
    "dissect_parse": (q_dissect_parse, SQL_GROK_PARSE),
    "multiline_assemble": (q_multiline_assemble, SQL_MULTILINE),
    "throttle": (q_throttle, SQL_THROTTLE),
    "elapsed_pairs": (q_elapsed_pairs, SQL_ELAPSED),
    "aggregate_correlate": (q_aggregate_correlate, SQL_AGGREGATE_CORRELATE),
    "ip_range_lookup": (q_ip_range_lookup, SQL_IP_RANGE_LOOKUP),
    "heavy_hitters": (q_heavy_hitters, SQL_HEAVY_HITTERS),
    "date_parse": (q_date_parse, SQL_DATE_PARSE),
    "mutate_chain": (q_mutate_chain, SQL_MUTATE_CHAIN),
    "useragent_parse": (q_useragent_parse, SQL_USERAGENT_PARSE),
    "translate_lookup": (q_translate_lookup, SQL_TRANSLATE_LOOKUP),
    "csv_roundtrip": (q_csv_roundtrip, SQL_CSV_ROUNDTRIP),
    "xml_roundtrip": (q_xml_roundtrip, SQL_XML_ROUNDTRIP),
    "vocab_drift": (q_vocab_drift, SQL_VOCAB_DRIFT),
    "bloom_decontaminate": (q_bloom_decontaminate, SQL_BLOOM_DECONTAMINATE),
    "cms_counts": (q_cms_counts, SQL_CMS_COUNTS),
    "syslog_pri": (q_syslog_pri, SQL_SYSLOG_PRI),
    "kv_parse": (q_kv_parse, SQL_KV_PARSE),
    "split_events": (q_split_events, SQL_SPLIT_EVENTS),
    "anonymize_events": (q_anonymize_events, SQL_ANONYMIZE_EVENTS),
    "hll_shingles": (q_hll_shingles, SQL_HLL_SHINGLES),
    "field_hygiene": (q_field_hygiene, SQL_FIELD_HYGIENE),
    "cidr_tld": (q_cidr_tld, SQL_CIDR_TLD),
    "meter_rates": (q_meter_rates, SQL_METER_RATES),
    "assemble_packs": (q_assemble_packs, SQL_ASSEMBLE_PACKS),
    "regional_revenue": (q_regional_revenue, SQL_REGIONAL_REVENUE),
    "revenue_topk": (q_revenue_topk, SQL_REVENUE_TOPK),
    "pricing_agg": (q_pricing_agg, SQL_PRICING_AGG),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "multimodal_bytes": (q_multimodal_bytes, SQL_MULTIMODAL_BYTES),
    "word_topk": (q_word_topk, SQL_WORD_TOPK),
    "line_number": (q_line_number, SQL_LINE_NUMBER),
    "dead_time_filter": (q_dead_time_filter, SQL_DEAD_TIME_FILTER),
    "spool_batches": (q_spool_batches, SQL_SPOOL_BATCHES),
    "kv_serialize": (q_kv_serialize, SQL_KV_SERIALIZE),
    "topk_per_group": (q_topk_per_group, SQL_TOPK_PER_GROUP),
    "json_props": (q_json_props, SQL_JSON_PROPS),
    "pivot_counts": (q_pivot_counts, SQL_PIVOT_COUNTS),
    "rollup_counts": (q_rollup_counts, SQL_ROLLUP_COUNTS),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "text_tokens": (q_text_tokens, SQL_TEXT_TOKENS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
}


def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    """Registry in driver-window order: stalest-first per rotation.py,
    re-derived from the CORRECTNESS_r*.json history at call time."""
    from logstash_forwarder_spark.rotation import rotation_order

    return {n: _REGISTRY[n] for n in rotation_order(list(_REGISTRY))}
