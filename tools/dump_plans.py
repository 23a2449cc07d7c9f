"""Write PLANS.md: physical plans of the key operators with the properties
each plan must exhibit (pushdown, broadcast, single-pass routing, partial
aggregation). Run: python tools/dump_plans.py"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim  # noqa: E402
from logstash_forwarder_spark.operators.aggregate import sink_source_counts  # noqa: E402
from logstash_forwarder_spark.pipeline import PipelineSpec, build_plan  # noqa: E402
from logstash_forwarder_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    sections: list[tuple[str, str, str]] = []

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pruned = docs.filter(F.col("n_chars") > 300).select("doc_id", "source")
    sections.append(
        (
            "Scan pruning (S5 dead-time filter shape)",
            "PushedFilters must contain GreaterThan(n_chars,300); ReadSchema "
            "must list ONLY doc_id, source, n_chars — a 2-column projection "
            "must not read the text column.",
            plan_of(pruned),
        )
    )

    seqs = gen_sequences(spark, 1000)
    dim = gen_source_dim(spark)
    routed = build_plan(seqs, dim, PipelineSpec(out_dir="", run_id="plan"))
    sections.append(
        (
            "Parse + enrich + route (O-P1 + O-J1 + O-R1, the publish plan)",
            "Exactly ONE MapInArrow before the writer — the parse + enrich "
            "kernel, zero-copy on Arrow buffers, the dim's rows in its "
            "closure — then the route Project. No BroadcastExchange, no join "
            "and no Exchange (without sort_col): the publish is one job.",
            plan_of(routed),
        )
    )

    agg = sink_source_counts(routed)
    sections.append(
        (
            "Per-(sink, source) aggregate (O-A2 + skew)",
            "One HashAggregate pair: partial count/sum/max in every map "
            "task, one Exchange hashpartitioning(sink, source), the final "
            "merge — the hot source's reducer reads one partial row per map "
            "task. No Sort, no other Exchange.",
            plan_of(agg),
        )
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q1 = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    sections.append(
        (
            "Heavy aggregate (pricing_agg shape)",
            "Filter pushed to the parquet scan; WholeStageCodegen spans scan "
            "→ partial agg; AQE coalesces post-shuffle partitions.",
            plan_of(q1),
        )
    )

    from logstash_forwarder_spark.operators.dedup import minhash_lsh_pairs

    sections.append(
        (
            "MinHash + banded LSH (training-data dedup)",
            "Signature computation must be a MapInArrow directly over the "
            "parquet scan (row-local — NO groupBy/Exchange of an exploded "
            "shingle relation anywhere in the plan); candidate generation is "
            "an equi-join keyed on (band, bucket). The kernel appears once "
            "per self-join side; pass a persisted `signatures` DF to "
            "materialize it once at scale.",
            plan_of(minhash_lsh_pairs(docs)),
        )
    )

    from logstash_forwarder_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sections.append(
        (
            "Banded hyperplane near-dup (embedding dedup)",
            "Banded signatures via one MapInArrow matmul over the scan; "
            "candidate pairs from an equi-join on (band, bucket); exact "
            "cosine verify only on deduplicated candidates — itself a "
            "MapInArrow einsum kernel with the threshold filter INSIDE it "
            "(rows below tau never cross the Arrow boundary). No cartesian "
            "product node anywhere, no higher-order-function expressions.",
            plan_of(cosine_near_dup_pairs(emb, threshold=0.5, dim=64)),
        )
    )

    from logstash_forwarder_spark.operators.similarity import brute_force_topk

    sections.append(
        (
            "Exact cosine top-k (brute_force_topk)",
            "Query side broadcast (IdentityBroadcastMode under "
            "BroadcastNestedLoopJoin — the |C|x|Q| product is the spec); "
            "scoring is ONE MapInArrow einsum kernel per batch (round-2's "
            "interpreted F.aggregate fold is gone: similarity_topk "
            "1.52 s -> 0.42 s at sf0.1); a single Exchange on query_id "
            "feeds the top-k window.",
            plan_of(
                brute_force_topk(
                    emb.filter(F.col("vec_id") < 5),
                    emb.filter(F.col("vec_id") >= 5),
                    k=5,
                )
            ),
        )
    )

    from logstash_forwarder_spark.operators.pack import chunk_tokens, pack_stats

    tok = docs.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("tokens"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1)
        .cast("long")
        .alias("n_tok"),
    )
    sections.append(
        (
            "Sequence packing (pack_stats)",
            "ONE Exchange on the partition key (source) feeding the window "
            "cumsum; the per-pack stats reuse that partitioning where "
            "possible (partial+final HashAggregate). No Python boundary, no "
            "global window.",
            plan_of(pack_stats(tok.select("doc_id", "source", "n_tok"), 2048)),
        )
    )
    sections.append(
        (
            "Chunking with overlap (chunk_tokens)",
            "Generate (posexplode) + Project only — NO Exchange anywhere: "
            "chunking is row-local and stays inside the scan's partitioning.",
            plan_of(chunk_tokens(tok, window=32, stride=16)),
        )
    )

    from logstash_forwarder_spark.queries import _materialize_log_files
    from logstash_forwarder_spark.sources.textlog import harvest_text_files

    log_dir = _materialize_log_files(SF_DIR)
    sections.append(
        (
            "Raw text-log harvest (S1+S2 native form)",
            "One MapInArrow directly over the binaryFile scan (path+content "
            "pruned), NO Exchange: one file = one task, line splitting is "
            "row-local; parallelism = number of files.",
            plan_of(harvest_text_files(spark, f"{log_dir}/*.log")),
        )
    )

    from logstash_forwarder_spark.operators.curate import (
        contamination_report,
        repetition_stats,
    )

    sections.append(
        (
            "Repetition quality rule (curate.repetition_stats)",
            "ONE MapInArrow directly over the parquet scan and NOTHING else "
            "— the duplicate-gram fraction is row-local, so the plan must "
            "show no Exchange, no aggregate, no second Python boundary.",
            plan_of(repetition_stats(docs)),
        )
    )

    bench_split = docs.filter(F.col("doc_id") % 97 == 0)
    corpus_split = docs.filter(F.col("doc_id") % 97 != 0)
    sections.append(
        (
            "Benchmark decontamination (curate.contamination_report)",
            "The benchmark shingle set is on the BUILD side of a "
            "BroadcastHashJoin (eval sets stay broadcast-small at any corpus "
            "scale), so the corpus-side kernel scan never shuffles; the only "
            "Exchange is the per-doc hit count over the (small) join output.",
            plan_of(contamination_report(corpus_split, bench_split)),
        )
    )

    import tempfile

    from logstash_forwarder_spark.plans.bucketing import write_bucketed

    bdir = tempfile.mkdtemp(prefix="plans_bucketed_")
    facts = spark.range(20_000).selectExpr("id", "id % 97 AS v")
    dims = spark.range(20_000).selectExpr("id", "id % 31 AS w")
    write_bucketed(facts, "p_facts", bucket_cols=["id"], n_buckets=8,
                   path=f"{bdir}/facts")
    write_bucketed(dims, "p_dims", bucket_cols=["id"], n_buckets=8,
                   path=f"{bdir}/dims")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    sections.append(
        (
            "Bucketed co-located join (big-big, shuffle paid at write time)",
            "SortMergeJoin with NO Exchange on either side: both sides are "
            "bucketed by the join key into the same bucket count, so the "
            "join reads co-located files directly — the same join on "
            "unbucketed inputs shows two Exchanges. A within-partition Sort "
            "remains: Spark ≥3.0 does not propagate bucket sort order "
            "(spark.sql.legacy.bucketedTableScan.outputOrdering restores it "
            "for single-file buckets); eliding the shuffle is the part that "
            "matters at 100 TB.",
            plan_of(spark.table("p_facts").join(spark.table("p_dims"), "id")),
        )
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS p_facts")
    spark.sql("DROP TABLE IF EXISTS p_dims")

    from logstash_forwarder_spark.operators.stats import length_quantiles

    lens = docs.select(
        "source",
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1)
        .cast("long")
        .alias("n_tok"),
    )
    sections.append(
        (
            "Exact quantiles via bounded-domain histogram (stats.length_quantiles)",
            "The first Exchange carries the (source, n_tok) HISTOGRAM (after a "
            "partial_count HashAggregate), never the raw rows; the Window and "
            "its Sort consume only that aggregated relation. At 10^12 rows the "
            "shuffled payload is |sources| x |length domain| rows — constant in "
            "corpus size. No global sort of the data anywhere.",
            plan_of(length_quantiles(lens)),
        )
    )

    from logstash_forwarder_spark.operators.dedup import edit_near_dup_pairs

    sections.append(
        (
            "Fuzzy-dedup verify (dedup.edit_near_dup_pairs)",
            "The self-join is an EQUI-join on the (block, length-bucket) "
            "composite key — a hash/sort-merge join keyed on the blocking "
            "scheme, NEVER a CartesianProduct or BroadcastNestedLoopJoin; "
            "levenshtein runs banded (3-arg threshold form) only on in-bucket "
            "candidate pairs.",
            plan_of(edit_near_dup_pairs(docs)),
        )
    )

    from logstash_forwarder_spark.queries import q_revenue_topk

    sections.append(
        (
            "Star-schema top-k (queries.q_revenue_topk, TPC-H Q3 shape)",
            "Equi-joins only: the filtered customer dim sits on a "
            "BroadcastExchange build side; orders-lineitem joins on the "
            "co-key (SMJ/shuffle-hash at scale, AQE may broadcast at small "
            "SF); the LIMIT 10 compiles to TakeOrderedAndProject — "
            "per-partition top-k merged at the driver, never a global Sort "
            "of the aggregate output.",
            plan_of(q_revenue_topk(spark, SF_DIR)),
        )
    )

    from logstash_forwarder_spark.operators.dedup import span_cut

    sections.append(
        (
            "Span-level exact-substring removal (dedup.span_cut)",
            "Exactly TWO big exchanges: one keyed by the 8-byte gram hash "
            "(the row_number window electing each gram's first occurrence) "
            "and one keyed by doc (dense-position coverage window + kept-"
            "text reassembly). The gram relation is a MapInArrow directly "
            "over the scan; NO pair enumeration, no join keyed on anything "
            "data-sized besides those two keys.",
            plan_of(span_cut(docs)),
        )
    )

    from logstash_forwarder_spark.operators.stats import token_budget_cap

    sections.append(
        (
            "Per-source token quota (stats.token_budget_cap)",
            "Two-level prefix sum: the bucket window's Sort/Window consume "
            "the (source, bucket) HASH-AGGREGATE output (tiny), and the "
            "intra-bucket window partitions on (source, bucket) — no Window "
            "partition ever spans a whole source, so a hot source cannot "
            "pin one executor.",
            plan_of(token_budget_cap(lens.withColumn("doc_id", F.monotonically_increasing_id()), budget=1000)),
        )
    )

    from logstash_forwarder_spark.operators.stats import curriculum_buckets

    sections.append(
        (
            "Length-curriculum shard ranks (stats.curriculum_buckets)",
            "NO global sort of the data: the only unpartitioned "
            "Sort/Window consumes the per-length HASH-AGGREGATE histogram "
            "(bounded domain, broadcast back); the data-sized relation is "
            "ranked by (len, id-bucket) windows whose partitions never "
            "exceed one id-bucket — a single length holding every doc "
            "still ranks in bounded partitions.",
            plan_of(
                curriculum_buckets(
                    docs.select("doc_id", F.col("n_chars").alias("n_tok")), 8
                )
            ),
        )
    )

    from logstash_forwarder_spark.queries import q_grouped_median

    sections.append(
        (
            "Exact grouped median on the histogram path (q_grouped_median)",
            "NO FlatMapGroupsInPandas anywhere (round-3's whole-group "
            "applyInPandas is gone): the plan is the length_quantiles "
            "histogram shape — hash-agg shuffle of (source, n_chars) "
            "counts, window over the histogram only.",
            plan_of(q_grouped_median(spark, SF_DIR)),
        )
    )

    from logstash_forwarder_spark.queries import q_regional_revenue

    sections.append(
        (
            "Deep join tree (queries.q_regional_revenue, TPC-H Q5 shape)",
            "Equi-joins only — no CartesianProduct anywhere; every "
            "dimension side (region-filtered nation, customer, supplier, "
            "nation-name) enters through a BroadcastExchange, and the "
            "local-supply predicate (s_nationkey = c_nationkey) rides the "
            "broadcast join condition instead of a post-join filter. At "
            "gate SF, AQE broadcasts the date-filtered orders side too "
            "(everything fits); at scale that one join falls back to the "
            "orderkey co-key exchange — the only data-sized shuffle in "
            "the tree.",
            plan_of(q_regional_revenue(spark, SF_DIR)),
        )
    )

    from logstash_forwarder_spark.queries import q_cohort_retention

    sections.append(
        (
            "Cohort retention (queries.q_cohort_retention)",
            "The raw event stream is aggregated FIRST (distinct user-week "
            "hash-agg with partial aggregation); the user-keyed min and "
            "the join back run on that reduced relation, and AQE reuses "
            "the user_id hash partitioning between them — the event-level "
            "data crosses the wire once.",
            plan_of(q_cohort_retention(spark, SF_DIR)),
        )
    )

    # AQE skew-join split: executed (final adaptive) plan, not explain —
    # the skew markers only exist after runtime stats are in
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    sk_facts = spark.range(400_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.concat(F.lit("payload_"), F.col("id").cast("string")).alias("v"),
    )
    sk_dim = spark.range(1000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("w")
    )
    sk_join = sk_facts.join(sk_dim, "k")
    sk_join.collect()  # same QueryExecution must run for the final plan
    sections.append(
        (
            "AQE skew-join split (hot routing key, runtime re-plan)",
            "With 95% of fact rows on one join key, the FINAL adaptive plan "
            "must show SortMergeJoin(skew=true) fed by an 'AQEShuffleRead "
            "coalesced and skewed' — the hot partition is split into "
            "advisory-sized reads at runtime, no salting needed on the join "
            "path (the groupBy side needs none either: partial aggregation, "
            "see the per-(sink, source) aggregate section). Thresholds are lowered here to reproduce "
            "at demo scale; production defaults (256MB) trigger at real "
            "skew sizes.",
            sk_join._jdf.queryExecution().executedPlan().toString(),
        )
    )
    for c in (
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        spark.conf.unset(c)

    out = ["# PLANS — physical-plan evidence for the key operators\n"]
    out.append(
        "Generated by tools/dump_plans.py (re-run after any operator "
        "change). Each section states the property the plan must show.\n"
    )
    for title, want, plan in sections:
        out.append(f"\n## {title}\n\n**Must hold:** {want}\n\n```\n{plan}```\n")
    with open(REPO / "PLANS.md", "w") as fh:
        fh.write("".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
