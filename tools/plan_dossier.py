"""Small-cluster plan dossier (VERDICT r4 #8): run the headline heavy
queries at sf0.1 under the "what 100x looks like" regime —
``spark.sql.autoBroadcastJoinThreshold=-1`` (statistics can no longer
elect broadcasts; only explicit constant-size hints survive) and
``spark.sql.shuffle.partitions=200`` (a small cluster's default width) —
and report, from the FINAL adaptive plan of an EXECUTED query, the
shuffle-exchange signatures (partitioning keys), the surviving broadcast
exchanges, and the join mix. The claimed scale shape of each query
(PLANS.md) is printed alongside so a reader can check them line by line.

Gotchas honored (CLAUDE.md): the plan is taken from the SAME DataFrame
that was collected (save() clones the QueryExecution); AQE plan text is
parsed from ``explainString('formatted')``, whose node list renders the
final plan once, instead of substring-counting the Initial+Final dump.

Usage: python tools/plan_dossier.py [sf_dir] > dossier.md
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# query -> the scale shape PLANS.md claims for it
CLAIMS = {
    "span_dedup": (
        "ONE gram-keyed exchange elects keepers (no pair enumeration); "
        "doc-keyed agg folds spans back per doc"
    ),
    "regional_revenue": (
        "region/nation stay broadcast (constant-size, hinted); "
        "customer/supplier/orders joins degrade to shuffle joins "
        "(unhinted since r5); orders⋈lineitem is the one data-sized "
        "co-key exchange"
    ),
    "simhash": (
        "signatures row-local in the scan kernel; pigeonhole band keys "
        "are the only exchanges; hamming filter runs pair-intrinsic "
        "before any shuffle of payloads"
    ),
    "curation_ledger": (
        "benchmark shingles broadcast by explicit hint (bounded bench "
        "set — legitimate at any scale); ONE keeper hash-agg exchange "
        "over the materialized shingle relation"
    ),
    "span_cut": (
        "ONE sh-keyed exchange (survivor election via row_number per "
        "gram) + ONE doc-keyed exchange (coverage fold); no window ever "
        "spans a whole group"
    ),
    # -- r5 additions --
    "dissect_parse": (
        "row-local projection: chained substring_index/substr inside "
        "the scan's codegen stage — ZERO shuffle exchanges, zero regex, "
        "zero Python"
    ),
    "multiline_assemble": (
        "ONE file-keyed exchange for the start-marker window; the "
        "(file, event_no) hash-agg is satisfied by "
        "hashpartitioning(file) — no second data shuffle"
    ),
    "ip_range_lookup": (
        "constant-size 4096-block dim (the GeoIP-db shape): with "
        "statistics disabled it degrades to a bucket-keyed shuffle "
        "equi-join + exact range filter — still never a cross product; "
        "at default thresholds AQE broadcasts the dim"
    ),
    "throttle": (
        "row_number window partitioned by (user, day) — bounded by the "
        "hot-key volume the cap contains; ONE user-keyed exchange "
        "serves both the window and the per-user rollup"
    ),
    "elapsed_pairs": (
        "two map-side-combinable hash-aggs + one user-keyed equi-join "
        "with the at-or-after predicate riding the join — never a "
        "window over the raw interleaved stream"
    ),
    "date_parse": (
        "row-local try_to_timestamp coalesce chain inside the scan's "
        "codegen stage — ZERO shuffle exchanges, zero Python"
    ),
    "mutate_chain": (
        "the whole 12-op chain collapses into ONE codegen'd Project "
        "over the scan — ZERO shuffle exchanges, zero Python"
    ),
    "useragent_parse": (
        "ordered family/OS pattern tables compile to chained when/"
        "rlike in the scan's codegen stage — ZERO shuffle, zero Python"
    ),
    "translate_lookup": (
        "LITERAL create_map + element_at (configuration-sized dict): "
        "no join node at all — ZERO shuffle, zero Python"
    ),
    "csv_roundtrip": (
        "from_csv row-local projection (quote/escape handled in the "
        "parser, not a shuffle) — ZERO shuffle, zero Python"
    ),
    "xml_roundtrip": (
        "from_xml row-local projection (attribute/element fields out "
        "of the scan stage) — ZERO shuffle, zero Python"
    ),
    # -- r5 late additions --
    "hll_shingles": (
        "shingle explode + md5 hash row-local in the scan; ONE m-row "
        "(<=64 groups) hash-agg with map-side combine and NO distinct "
        "anywhere — the exchange carries register partials, never data"
    ),
    "meter_rates": (
        "ONE map-side-combinable (type, minute) hash-agg; RANGE-frame "
        "windows run over the minute AGGREGATE only (one re-key of "
        "|types|x|minutes| rows), never over raw events"
    ),
    "field_hygiene": (
        "the whole filter chain (urldecode/truncate/numbers/uuid/json) "
        "is ONE codegen'd Project over the scan — ZERO shuffle, zero "
        "Python"
    ),
    "cidr_tld": (
        "cidr prefix compares + tld label slicing compile into the "
        "scan's Project — ZERO shuffle, zero Python, no join node for "
        "the configuration-sized block list"
    ),
    "similarity_ivf_pq": (
        "centroid/codebook fits touch bounded pools; assignment/encode/"
        "ADC are scan-side kernels; the cell equi-join carries m-byte "
        "codes (query side broadcast), survivors shuffle as id triples; "
        "re-rank joins are broadcast-bounded by refine"
    ),
    # -- r5 final additions --
    "aggregate_correlate": (
        "ONE task-keyed exchange: the span window's hash(user_id) "
        "clustering satisfies the (user_id, span) group-by, so Spark "
        "plans no second data shuffle"
    ),
    "metricize": (
        "stack unpivot is an Expand inside the scan's stage — ZERO "
        "shuffle, zero Python, 3x rows out of the same partition"
    ),
    "clone_range": (
        "clone explode is a Generate in the scan's stage; the range "
        "check rides the same Project — ZERO shuffle, zero Python"
    ),
    "dns_lookup": (
        "resolver table is cache-sized (explicit broadcast hint — "
        "legitimate at any scale, the region/nation class); harvest + "
        "extract + join all in one stage, ZERO data shuffles"
    ),
    "incremental_dedup": (
        "store scanned, NEVER shuffled: store-exact is a broadcast "
        "semi-join of batch fingerprints, store-near ONE broadcast hash "
        "join of batch band buckets; only batch-sized relations "
        "(signatures, window election, self-join) repartition"
    ),
    "lm_score": (
        "bigram relation built row-locally in the scan (arrays_zip, no "
        "position self-join); model = two vocab-keyed hash-aggs whose "
        "OUTPUT never scales with corpus rows; scoring join degrades "
        "from broadcast to a word-keyed shuffle at scale (unhinted — "
        "AQE skew-split covers hot words); one doc-keyed final agg"
    ),
    "es_bulk": (
        "action+source framing is ONE codegen'd row-local Project — "
        "ZERO shuffle, zero Python at any scale"
    ),
    "bpe_encode": (
        "merge ranks ship by closure (configuration-sized); encode is a "
        "row-local mapInPandas kernel inside the scan's stage — ZERO "
        "shuffle; training's only distributed work is one vocab-sized "
        "word-frequency hash-agg (not part of this query)"
    ),
    "skew_report": (
        "ONE map-side-combinable hash-agg to the key domain; grand "
        "total is a 1-row broadcast back onto the domain (no "
        "unpartitioned window); top-k is a TakeOrdered"
    ),
    "hll_by_source": (
        "source rides THROUGH the row-local shingle relation (keep= "
        "passthrough, no doc-sized join); ONE (source, register) "
        "hash-agg with map-side combine — output bounded by m x "
        "|sources| at any corpus scale"
    ),
    "shard_plan": (
        "ONE n_shards-row hash-agg with map-side combine; the md5 "
        "assignment is row-local inside the scan"
    ),
    # -- r6 additions --
    "curriculum_buckets": (
        "NO global sort of the data: the single-partition window runs "
        "over the per-length HISTOGRAM hash-agg only (bounded domain); "
        "the data ranks via (len, id-bucket) windows bounded by one "
        "id-bucket — skew-proof even when one length holds every doc"
    ),
    "source_novelty": (
        "ONE gram-keyed hash-agg whose collect_set partials are bounded "
        "by |sources| (map-side combine at distinct-gram grain); the "
        "per-source rollup re-keys |grams|x|holding sources| rows — no "
        "gram-gram join, no distinct-then-join double exchange"
    ),
    "boilerplate_prefixes": (
        "prefix fingerprint row-local in the scan; ONE prefix-keyed "
        "hash-agg with map-side combine — output is distinct-prefix-"
        "sized"
    ),
    "dup_cluster_sizes": (
        "two hash-aggs: fingerprint clusters (map-side combine over the "
        "replay union), then the |max cluster size|-row histogram — no "
        "join anywhere"
    ),
    "lumberjack_roundtrip": (
        "encode and decode are row-local mapInArrow kernels (one "
        "payload blob per flush bundle); the wire hop adds ZERO "
        "shuffles — the gated form's coalesce(1) is the connection "
        "analog, not an operator property"
    ),
}


def summarize(name: str, df) -> dict:
    df.collect()  # execute: AQE finalizes; plan read from the SAME frame
    jvm = df.sparkSession._jvm
    txt = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # AQE formatted output renders BOTH "== Final Plan ==" and
    # "== Initial Plan ==" subtrees (nested subtrees too — CLAUDE.md
    # round-2), and the numbered detail blocks span both. Collect the node
    # ids appearing in the FINAL subtree only and count just those blocks.
    m = re.search(r"== Final Plan ==(.*?)\+- == Initial Plan ==", txt, re.S)
    tree = m.group(1) if m else txt
    final_ids = set(re.findall(r"\((\d+)\)", tree))
    shuffles = []
    broadcasts = 0
    joins: dict[str, int] = {}
    for blk in re.finditer(
        r"^\((\d+)\) (\w+)[^\n]*\n((?:(?!^\().*\n?)*)", txt, re.M
    ):
        nid, node, body = blk.group(1), blk.group(2), blk.group(3)
        if nid not in final_ids:
            continue
        if node == "Exchange":
            am = re.search(r"Arguments: (\w+partitioning\(.*)", body)
            if am:
                sig = am.group(1)
                # strip the trailing shuffle-origin + plan-id suffixes
                sig = re.split(r", [A-Z_]+, \[plan_id=\d+\]", sig)[0]
                shuffles.append(re.sub(r"#\d+L?", "", sig))
        elif node == "BroadcastExchange":
            broadcasts += 1
        elif node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                      "BroadcastNestedLoopJoin", "CartesianProduct"):
            joins[node] = joins.get(node, 0) + 1
    return {
        "shuffles": shuffles,
        "n_broadcast": broadcasts,
        "joins": joins,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])  # optional: restrict to named queries
    from logstash_forwarder_spark.queries import registry
    from logstash_forwarder_spark.session import get_spark

    spark = get_spark(
        app_name="plan-dossier", master="local[8]", shuffle_partitions=200
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    reg = registry()
    print(f"Regime: {sf_dir}, autoBroadcastJoinThreshold=-1, "
          "shuffle.partitions=200, local[8]\n")
    for name, claim in CLAIMS.items():
        if only and name not in only:
            continue
        fn, _ = reg[name]
        s = summarize(name, fn(spark, sf_dir))
        print(f"### {name}\n")
        print(f"*Claimed scale shape:* {claim}\n")
        jl = ", ".join(f"{k}×{v}" for k, v in sorted(s["joins"].items())) or "none"
        print(f"* joins: {jl}; broadcast exchanges: {s['n_broadcast']}")
        print(f"* shuffle exchanges ({len(s['shuffles'])}):")
        for sig in s["shuffles"]:
            print(f"  * `{sig}`")
        print()


if __name__ == "__main__":
    main()
