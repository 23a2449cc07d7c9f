"""CLI runner — the spark-submit surface of the pipeline.

    spark-submit --py-files lfs.zip run.py \
        --input /path/to/sequences_parquet --out /path/out --run-id r1

With ``--gen N`` the input is synthesized deterministically instead
(datagen.gen_sequences). Prints a one-line JSON summary to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .datagen import gen_sequences, gen_source_dim
from .pipeline import PipelineSpec, run_pipeline
from .schema import SEQUENCES_SCHEMA


def _get_session(args) -> SparkSession:
    if args.master:
        from .session import get_spark

        return get_spark(
            app_name="lfs-run",
            master=args.master,
            shuffle_partitions=args.shuffle_partitions,
        )
    return SparkSession.builder.appName("lfs-run").getOrCreate()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="logstash_forwarder_spark.run")
    p.add_argument("--input", help="parquet dir of (doc_id, tokens, n_tok, source)")
    p.add_argument("--gen", type=int, default=0, help="synthesize N rows instead")
    p.add_argument(
        "--text-glob",
        help="harvest raw .log files matching this glob instead "
        "(sources/textlog.py: line split, whitespace tokenizer)",
    )
    p.add_argument(
        "--lumberjack-glob",
        help="ingest lumberjack v1 SPOOL files matching this glob "
        "(operators/lumberjack.py: 1W/1C/1D payload streams at rest — a "
        "captured shipper connection or queue dump; event identity is the "
        "frame's own file:offset pairs, PROTOCOL.md:46-118)",
    )
    p.add_argument(
        "--conf",
        help="a logstash-forwarder config file or dir (the reference's own "
        "format: network/files[].paths/fields/'dead time', config.go:23-43) "
        "— harvest each files[] group's globs with its static fields riding "
        "the broadcast-enrich dim; '-' paths read stdin; dead-time-idle "
        "files are skipped at discovery",
    )
    p.add_argument(
        "--tail-glob",
        help="TAIL live .log files matching this glob: per poll, harvest "
        "only bytes grown since the persisted offsets (seek-read kernel, "
        "sources/textlog.py poll_tail_once) and run the pipeline on the "
        "new complete lines — the reference daemon's harvest loop",
    )
    p.add_argument(
        "--tail",
        action="store_true",
        help="with --conf: TAIL the config's files[] paths instead of a "
        "one-shot harvest — the reference daemon's full shape (config-"
        "driven discovery + live tailing + static fields)",
    )
    p.add_argument(
        "--polls", type=int, default=1,
        help="number of tail polls to run (with --tail-glob / --conf --tail)",
    )
    p.add_argument(
        "--tail-from-end",
        action="store_true",
        help="the reference's -tail flag (logstash-forwarder.go:77): files "
        "with no saved offset — pre-existing logs at first launch, fresh "
        "post-rotation content — attach at EOF instead of byte 0, skipping "
        "history ('may skip entries')",
    )
    p.add_argument(
        "--poll-interval", type=float, default=0.0,
        help="seconds to sleep between tail polls",
    )
    p.add_argument("--out", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument(
        "--snapshots",
        action="store_true",
        help="list the registrar's snapshot log for --out and exit",
    )
    p.add_argument(
        "--compact-checkpoint",
        action="store_true",
        help="maintenance: fold --out's per-commit checkpoint files into "
        "one atomically-swapped index (Iceberg manifest-list compaction; "
        "resume/lineage/snapshots/time-travel preserved), then exit",
    )
    p.add_argument(
        "--expire-keep-last",
        type=int,
        metavar="N",
        help="maintenance: expire all but the N newest registrar snapshots "
        "of --out (Iceberg expire_snapshots retainLast; composable with "
        "--expire-older-than) + per-key GC of the expired runs' published "
        "data, then exit",
    )
    p.add_argument(
        "--expire-older-than",
        metavar="ISO_TS",
        help="maintenance: expire registrar snapshots committed before "
        "ISO_TS (the current snapshot is always retained; composable with "
        "--expire-keep-last) + per-key GC of the expired runs' published "
        "data, then exit",
    )
    p.add_argument(
        "--expire-keep-last-runs",
        type=int,
        metavar="K",
        help="maintenance: expire all snapshots except those of the K "
        "newest RUNS (run-aware retention — the unit the tail daemon "
        "commits in), then exit",
    )
    p.add_argument(
        "--export-dedup-on",
        metavar="COL",
        help="with --export-shards: collapse cross-run replay duplicates "
        "on this replay-stable identity column (doc_id = file:line_no for "
        "harvested text) before sharding — the consumer half of the tail "
        "loop's at-least-once recovery window (pipeline.read_table)",
    )
    p.add_argument(
        "--ship-lumberjack",
        metavar="HOST:PORT",
        help="with --text-glob: ship the harvested lines to a live "
        "lumberjack v1 receiver instead of the parquet sinks — one "
        "connection per partition, window + zlib envelope per flush "
        "bundle, blocking on bulk acks (the reference's publish loop "
        "over a real socket; operators/lumberjack_net.py), then exit",
    )
    p.add_argument(
        "--tail-retain-polls",
        type=int,
        metavar="K",
        help="with --tail-glob/--conf --tail: after each poll commit, "
        "expire registrar snapshots beyond the K newest runs and GC "
        "their published data — bounded metadata AND storage at daemon "
        "cadence (Iceberg expire_snapshots in the loop)",
    )
    p.add_argument(
        "--read-as-of",
        metavar="SNAPSHOT_ID",
        help="time-travel read: per-sink row counts of --run-id's published "
        "data as of SNAPSHOT_ID (plans/registrar.py Registrar.read_as_of), then exit",
    )
    p.add_argument(
        "--compact-sinks",
        action="store_true",
        help="maintenance: rewrite --run-id's committed sinks to "
        "--target-mb files via an atomic manifest swap (plans/compact.py; "
        "content-preserving, zero read downtime), then exit",
    )
    p.add_argument(
        "--target-mb",
        type=int,
        default=128,
        metavar="MB",
        help="with --compact-sinks: target data-file size (default 128)",
    )
    p.add_argument(
        "--export-shards",
        metavar="DIR",
        help="consumer mode: read EVERY committed run under --out "
        "(pipeline.read_table — commit-protocol-aware, crashed attempts "
        "invisible) and materialize training shards at DIR with the "
        "deterministic portable assignment (operators/pack.py "
        "export_shards), then exit",
    )
    p.add_argument(
        "--shards",
        type=int,
        default=64,
        metavar="N",
        help="with --export-shards: shard count (default 64)",
    )
    p.add_argument(
        "--curriculum",
        metavar="COL",
        help="with --export-shards: sort rows within each shard by COL "
        "(e.g. n_tok for a short-to-long curriculum) — a narrow "
        "within-shard sort, no extra shuffle",
    )
    p.add_argument(
        "--sort-by",
        metavar="COL",
        help="write-time sorted layout: range-partition + sort each sink's "
        "rows by COL before staging so parquet min-max envelopes prune "
        "selective scans (plans/layout.py at the ship surface; one range "
        "exchange at publish)",
    )
    p.add_argument(
        "--dedup-store",
        metavar="DIR",
        help="with --tail-glob / --conf --tail: dedup each poll's lines "
        "against a persistent signature store (operators/incremental.py) "
        "before shipping — re-globbed rotated copies and replayed content "
        "ship once; duplicate lines are dropped by content fingerprint",
    )
    p.add_argument(
        "--dedup-near-tau",
        type=int,
        default=None,
        metavar="PCT",
        help="with --dedup-store: ALSO drop near-duplicate lines whose "
        "minhash signatures agree on >= PCT%% of slots (default: exact "
        "fingerprint matches only)",
    )
    p.add_argument(
        "--dedup-store-join",
        choices=["broadcast", "colocated"],
        default="broadcast",
        metavar="REGIME",
        help="with --dedup-store: 'broadcast' (default; poll-sized batches "
        "broadcast against the scanned store) or 'colocated' (backfill "
        "batches too big to broadcast; the store is maintained as bucketed "
        "catalog tables and only the batch side shuffles — "
        "operators/incremental.py BucketedSignatureStore)",
    )
    p.add_argument(
        "--dedup-buckets",
        type=int,
        default=16,
        metavar="N",
        help="with --dedup-store-join colocated: bucket count for the "
        "store's co-location tables",
    )
    p.add_argument("--master", default=None, help="override master (local[N])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    if args.compact_checkpoint:
        import os

        from .plans.registrar import Registrar

        n = Registrar(os.path.join(args.out, "_checkpoint")).compact()
        print(json.dumps({"compacted_commit_files": n}))
        return 0

    if args.compact_sinks:
        from .plans.compact import compact_run

        if not args.run_id:
            p.error("--compact-sinks requires --run-id")
        spark = _get_session(args)
        reports = compact_run(
            spark,
            args.out,
            args.run_id,
            target_bytes=args.target_mb << 20,
            # with --sort-by: keep the sorted layout (and its zone-map
            # pruning) alive across the merge
            row_group_bytes=(1 << 20) if args.sort_by else None,
            sort_cols=[args.sort_by] if args.sort_by else None,
        )
        print(json.dumps({"run_id": args.run_id, "sinks": reports}))
        return 0

    if args.export_shards:
        from .operators.pack import export_shards, shard_plan
        from .pipeline import read_table

        spark = _get_session(args)
        table = read_table(spark, args.out, dedup_on=args.export_dedup_on)
        export_shards(
            table, args.export_shards, args.shards, sort_col=args.curriculum
        )
        plan = {
            int(r.shard): [int(r.n_rows), int(r.weight_total)]
            for r in shard_plan(
                table, args.shards, weight_col="n_tok"
            ).collect()
        }
        print(
            json.dumps(
                {
                    "shard_dir": args.export_shards,
                    "n_shards": args.shards,
                    "rows": sum(v[0] for v in plan.values()),
                    "tokens": sum(v[1] for v in plan.values()),
                }
            )
        )
        return 0

    if (
        args.expire_keep_last is not None
        or args.expire_older_than
        or args.expire_keep_last_runs is not None
    ):
        # pure-metadata maintenance — no SparkSession needed
        import os
        from datetime import datetime, timezone

        from .plans.registrar import Registrar

        older = None
        if args.expire_older_than:
            older = datetime.fromisoformat(args.expire_older_than)
            if older.tzinfo is None:
                older = older.replace(tzinfo=timezone.utc)
        rep = Registrar(os.path.join(args.out, "_checkpoint")).expire_snapshots(
            keep_last=args.expire_keep_last,
            older_than=older,
            keep_last_runs=args.expire_keep_last_runs,
            out_dir=args.out,
        )
        print(json.dumps(rep))
        return 0

    if args.snapshots or args.read_as_of:
        # pure-metadata modes first: --snapshots never needs a SparkSession
        # (parquet footers via pyarrow), so don't pay JVM startup for it
        import os

        from .plans.registrar import Registrar

        if args.read_as_of and not args.run_id:
            p.error("--read-as-of requires --run-id")
        reg = Registrar(os.path.join(args.out, "_checkpoint"))
        if args.snapshots:
            print(
                json.dumps(
                    [
                        {
                            "seq": s.sequence_number,
                            "snapshot_id": s.snapshot_id,
                            "run_id": s.run_id,
                            "sink": s.sink,
                            "committed_at": s.committed_at.isoformat(),
                        }
                        for s in reg.snapshots()
                    ]
                )
            )
            return 0
        spark = _get_session(args)
        df = reg.read_as_of(spark, args.out, args.run_id, snapshot_id=args.read_as_of)
        counts = {
            r["sink"]: r["n"]
            for r in df.groupBy("sink").count().withColumnRenamed("count", "n").collect()
        }
        print(json.dumps({"run_id": args.run_id, "as_of": args.read_as_of, "sink_rows": counts}))
        return 0

    spark = _get_session(args)

    if args.ship_lumberjack and not (args.tail_glob or (args.conf and args.tail)):
        # one-shot wire-ship: harvest → lumberjack socket, no parquet
        # sinks. (With --tail-glob the SAME flag turns the tail loop into
        # the reference's literal daemon — see _tail_loop.)
        import socket as _socket

        from .operators.lumberjack_net import publish_lumberjack
        from .sources.textlog import harvest_text_files

        if not args.text_glob:
            p.error("--ship-lumberjack requires --text-glob or --tail-glob")
        host, _, port_s = args.ship_lumberjack.rpartition(":")
        events = (
            harvest_text_files(spark, args.text_glob)
            .filter("is_complete")
            .select(
                "file",
                F.lit(_socket.gethostname()).alias("host"),
                F.col("byte_offset").cast("string").alias("offset"),
                "line",
            )
        )
        stats = publish_lumberjack(
            events,
            host,
            int(port_s),
            pair_cols=["file", "host", "offset", "line"],
            order_col="offset",
        )
        print(
            json.dumps(
                {
                    "shipped": sum(s["n_events"] for s in stats),
                    "acked": sum(s["acked"] for s in stats),
                    "connections": len(stats),
                }
            )
        )
        return 0

    if args.tail and not args.conf:
        p.error("--tail requires --conf (use --tail-glob for a bare glob)")
    if args.tail_glob or (args.conf and args.tail):
        return _tail_loop(spark, args)

    dim = None
    if args.gen:
        seqs = gen_sequences(spark, args.gen)
    elif args.input:
        seqs = spark.read.schema(SEQUENCES_SCHEMA).parquet(args.input)
    elif args.text_glob:
        from .sources.textlog import harvest_text_files, lines_to_sequences

        seqs = lines_to_sequences(harvest_text_files(spark, args.text_glob))
    elif args.lumberjack_glob:
        from .operators.lumberjack import (
            harvest_lumberjack_files,
            lumberjack_to_sequences,
        )

        seqs = lumberjack_to_sequences(
            harvest_lumberjack_files(spark, args.lumberjack_glob)
        )
    elif args.conf:
        seqs, dim = _harvest_from_conf(spark, args.conf)
        if seqs is None:
            print(json.dumps({"error": "no live files matched the config"}))
            return 1
    else:
        p.error(
            "one of --input / --gen / --text-glob / --lumberjack-glob / "
            "--conf is required"
        )

    spec_kwargs = {"out_dir": args.out}
    if args.run_id:
        spec_kwargs["run_id"] = args.run_id
    if args.sort_by:
        spec_kwargs["sort_col"] = args.sort_by
    if dim is None:
        dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, PipelineSpec(**spec_kwargs))
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "sinks_committed": res.sinks_committed,
                "sinks_skipped": res.sinks_skipped,
                "rows_staged": res.rows_staged,
                "elapsed_sec": round(res.elapsed_sec, 3),
            }
        )
    )
    return 0


def _harvest_from_conf(spark, conf_path: str):
    """The literal switch-over path: a logstash-forwarder.conf drives the
    harvest. Every files[] group's globs are discovered driver-side
    (registrar-sized work — a file LIST, never data), dead-time-idle
    files are skipped at discovery (harvester.go dead-time contract),
    '-' reads stdin into a spooled file (S4), and the group's static
    fields become rows of the broadcast-enrich dim keyed by the file
    stem — FileConfig.Fields (config.go:40) riding the same join every
    other enrich uses. Conflicting fields for one stem across groups
    raise (one dim row per source; the reference's per-harvester
    attachment cannot express two field-sets for one source name
    either once events merge downstream).

    Returns (sequences, source_dim) or (None, None) when nothing
    matched."""
    import glob as globmod
    import os
    import re
    import sys
    import tempfile
    import time as timemod

    from .config import load_forwarder_config, parse_duration
    from .schema import SOURCE_DIM_SCHEMA
    from .sources.textlog import harvest_text_files, lines_to_sequences

    cfg = load_forwarder_config(conf_path)
    # must mirror lines_to_sequences' JVM stem regexp exactly
    stem_re = re.compile(r"([^/]+?)(?:\.[^./]*)?(?:\.gz)?$")
    now = timemod.time()
    all_paths: list[str] = []
    seen_paths: set[str] = set()
    dim_fields: dict[str, dict[str, str]] = {}
    for g in cfg.files:
        cutoff = now - parse_duration(g.dead_time)
        matched: list[str] = []
        for pat in g.paths:
            if pat == "-":
                spool = tempfile.NamedTemporaryFile(
                    prefix="lfs_stdin_", suffix=".log", delete=False
                )
                spool.write(sys.stdin.buffer.read())
                spool.close()
                matched.append(spool.name)
                continue
            for mfile in sorted(globmod.glob(pat)):
                if os.path.getmtime(mfile) >= cutoff:
                    matched.append(mfile)
        # overlapping globs (within a group, or across groups with identical
        # fields) must not ship a file twice — mirror discover_tails' set
        # dedup, order-preserving (ADVICE r5)
        matched = list(dict.fromkeys(matched))
        for mfile in matched:
            src = stem_re.search(mfile).group(1)
            if src in dim_fields and dim_fields[src] != g.fields:
                raise SystemExit(
                    f"--conf: source {src!r} gets conflicting fields from "
                    "two files[] groups"
                )
            dim_fields[src] = g.fields
        all_paths.extend(m for m in matched if m not in seen_paths)
        seen_paths.update(matched)
    if not all_paths:
        return None, None
    seqs = lines_to_sequences(harvest_text_files(spark, all_paths))
    dim = spark.createDataFrame(
        sorted(dim_fields.items()), SOURCE_DIM_SCHEMA
    )
    return seqs, dim


def _tail_loop(spark, args) -> int:
    """The reference daemon's loop at poll granularity: stat the glob,
    seek-read grown bytes, pipe new complete lines through the full
    parse → enrich → route → commit pipeline, persist the registrar
    offsets, sleep, repeat.

    Offsets live in ``<out>/_tailstate.json``, written via a single-file
    atomic swap AFTER the poll's pipeline commit — a crash between commit
    and state write re-harvests that poll's lines under the SAME poll
    run_id, whose sinks the registrar then skips (exactly-once for a pure
    crash-replay). One window is at-least-once, not exactly-once: if the
    file ALSO grows between that crash and the restart, the recovery
    poll's resulting offsets differ, its content fingerprint differs, and
    the already-committed lines re-commit bundled with the growth under a
    FRESH run_id (the alternative — reusing the old id — would make the
    registrar skip the new growth entirely, silently dropping data; we
    choose duplicate-on-recovery over loss). Downstream consumers reading
    across all run_ids can dedup on ``(file, line_no)``, which is stable
    across replays. The poll
    counter itself persists in the state file, so a RESTARTED invocation
    — same ``--run-id`` or not — continues numbering instead of reusing
    ``<base>-p0`` (which would make the registrar skip brand-new lines as
    already-shipped and silently drop them). Each poll commits under
    run_id ``<base>-pK`` so published data stays per-poll queryable and
    the snapshot log records one transaction per poll."""
    import os
    import time
    import uuid

    from .sources.textlog import (
        lines_to_sequences,
        poll_tail_once,
        release_poll_checkpoint,
    )

    ship_to = None
    if args.ship_lumberjack:
        # the reference's LITERAL daemon: follow files, ship grown lines
        # over lumberjack with blocking acks, persist offsets AFTER the
        # final ack (harvester → publisher1 → registrar ordering —
        # at-least-once on crash, duplicates-over-loss, exactly the
        # reference's own recovery window; receivers dedup on the
        # replay-stable (file, offset) identity the frames carry).
        if args.dedup_store:
            raise SystemExit(
                "--ship-lumberjack with --dedup-store is not supported in "
                "the tail loop (the signature store commits against the "
                "parquet publish path)"
            )
        host, _, port_s = args.ship_lumberjack.rpartition(":")
        ship_to = (host, int(port_s))

    dedup_store = None
    if args.dedup_store:
        if args.dedup_store_join == "colocated":
            from .operators.incremental import BucketedSignatureStore

            dedup_store = BucketedSignatureStore(
                args.dedup_store, spark, n_buckets=args.dedup_buckets
            )
        else:
            from .operators.incremental import SignatureStore

            dedup_store = SignatureStore(args.dedup_store)

    state_path = os.path.join(args.out, "_tailstate.json")
    state: dict[str, tuple[int, int]] = {}
    poll_base = 0
    if os.path.exists(state_path):
        with open(state_path) as fh:
            raw = json.load(fh)
        poll_base = int(raw.pop("_polls", 0))
        state = {k: tuple(v) for k, v in raw.items()}
    base = args.run_id or uuid.uuid4().hex[:8]
    if args.tail_glob:
        tail_globs: str | list[str] = args.tail_glob
        dim = gen_source_dim(spark)
        dim_per_poll = None
    else:
        # --conf --tail: the reference daemon's full shape. Globs come
        # from files[].paths; each group's static fields ride the enrich
        # dim, REBUILT per poll so files appearing later still map (the
        # prospector discovers continuously, prospector.go:24-78).
        # Dead time is a no-op here by design: a poll reads only grown
        # bytes, so an idle file costs one stat — the resource the
        # reference's dead_time reclaims (an open fd) has no analog.
        from .config import load_forwarder_config

        fcfg = load_forwarder_config(args.conf)
        tail_globs = [p for g in fcfg.files for p in g.paths if p != "-"]
        if not tail_globs:
            print(json.dumps({"error": "--conf --tail: no non-stdin paths"}))
            return 1

        def dim_per_poll():
            import glob as globmod
            import re

            from .schema import SOURCE_DIM_SCHEMA

            stem_re = re.compile(r"([^/]+?)(?:\.[^./]*)?(?:\.gz)?$")
            fields: dict[str, dict[str, str]] = {}
            for g in fcfg.files:
                for pat in g.paths:
                    if pat == "-":
                        continue
                    for m in globmod.glob(pat):
                        src = stem_re.search(m).group(1)
                        if src in fields and fields[src] != g.fields:
                            raise SystemExit(
                                f"--conf: source {src!r} gets conflicting "
                                "fields from two files[] groups"
                            )
                        fields[src] = g.fields
            return spark.createDataFrame(
                sorted(fields.items()), SOURCE_DIM_SCHEMA
            )

        dim = dim_per_poll()
    polls = []
    for k in range(max(args.polls, 1)):
        poll_no = poll_base + k
        if dim_per_poll is not None and k > 0:
            dim = dim_per_poll()
        harvested, new_state = poll_tail_once(
            spark, tail_globs, state, tail_on_rotate=args.tail_from_end
        )
        n_lines = harvested.count()
        rec = {"poll": poll_no, "new_lines": n_lines}
        if n_lines and ship_to is not None:
            import socket as _socket

            from .operators.lumberjack_net import publish_lumberjack

            events = harvested.filter("is_complete").select(
                "file",
                F.lit(_socket.gethostname()).alias("host"),
                F.col("byte_offset").cast("string").alias("offset"),
                "line",
            )
            stats = publish_lumberjack(
                events,
                ship_to[0],
                ship_to[1],
                pair_cols=["file", "host", "offset", "line"],
                order_col="offset",
            )
            rec.update(
                shipped=sum(s["n_events"] for s in stats),
                acked=sum(s["acked"] for s in stats),
            )
        elif n_lines:
            # poll identity = counter + CONTENT fingerprint of the poll's
            # resulting offsets: a pure crash-replay reproduces the same id
            # (registrar skips, exactly-once), while a recovery poll that
            # bundles NEW growth gets a fresh id — without this, growth
            # harvested under an already-committed id would be skipped and
            # silently dropped while the state advanced past it
            import hashlib

            fp = hashlib.md5(
                json.dumps(sorted((k2, list(v)) for k2, v in new_state.items())).encode()
            ).hexdigest()[:8]
            seqs = lines_to_sequences(harvested)
            kept_sigs = None
            if dedup_store is not None:
                # line-level dedup against the persistent signature store:
                # re-globbed rotated copies / replayed content ship once.
                # Dedup runs BEFORE publish, but the store append is
                # DEFERRED until after the pipeline commit (publish-first:
                # a crash between the two re-ships at most this poll's
                # lines — duplicates-over-loss, the tail loop's documented
                # recovery choice; the registrar's replay-skip still
                # catches the pure-replay case).
                from .operators.incremental import incremental_dedup_batch

                line_ids = F.concat_ws(
                    ":", "file", F.col("line_no").cast("string")
                )
                lines_df = harvested.filter("is_complete").select(
                    line_ids.alias("line_id"), F.col("line").alias("text")
                )
                kept_sigs = incremental_dedup_batch(
                    spark,
                    dedup_store,
                    lines_df,
                    batch_id=f"{base}-p{poll_no}-{fp}",
                    id_col="line_id",
                    tau_pct=args.dedup_near_tau,
                    commit=False,
                    store_join=args.dedup_store_join,
                )
                seqs = seqs.join(
                    F.broadcast(
                        kept_sigs.select(F.col("line_id").alias("doc_id"))
                    ),
                    "doc_id",
                    "left_semi",
                )
                n_kept = kept_sigs.count()
                # count the dedup INPUT (complete lines only) — n_lines
                # includes held-back partial lines, which are not
                # duplicates (ADVICE r5)
                rec["dup_lines"] = lines_df.count() - n_kept
            if kept_sigs is None or n_kept:
                # (an all-duplicates poll skips the publish but still
                # commits its empty signature batch and advances offsets)
                res = run_pipeline(
                    spark,
                    seqs,
                    dim,
                    PipelineSpec(
                        out_dir=args.out,
                        run_id=f"{base}-p{poll_no}-{fp}",
                        sort_col=args.sort_by,
                    ),
                )
                rec.update(
                    run_id=res.run_id,
                    sinks_committed=res.sinks_committed,
                    rows_staged=res.rows_staged,
                )
            if kept_sigs is not None:
                # store append AFTER the publish (publish-first ordering);
                # exist_ok: a crash-replay recomputes the same batch_id
                dedup_store.append(
                    kept_sigs, f"{base}-p{poll_no}-{fp}", exist_ok=True
                )
            if args.tail_retain_polls:
                # retention at daemon cadence: expire runs beyond the K
                # newest AFTER this poll's commit — metadata AND published
                # storage stay bounded over an unbounded poll count.
                # Replay-safe: the persisted poll counter only grows, so
                # an expired poll run_id never recurs.
                from .plans.registrar import Registrar

                exp = Registrar(
                    os.path.join(args.out, "_checkpoint")
                ).expire_snapshots(
                    keep_last_runs=args.tail_retain_polls, out_dir=args.out
                )
                if exp["expired"]:
                    rec["expired_runs"] = sorted(
                        {e["run_id"] for e in exp["expired"]}
                    )
        if new_state != state:
            # persist whenever offsets moved — not only on published
            # lines: a --tail-from-end attach poll advances state with
            # ZERO new lines, and losing the attach point would re-seek
            # to a newer EOF next launch and drop interim growth
            state = new_state
            doc = {k2: list(v) for k2, v in state.items()}
            doc["_polls"] = poll_no + 1
            os.makedirs(args.out, exist_ok=True)
            tmp = f"{state_path}.tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
            os.replace(tmp, state_path)
        # this poll's eager checkpoint is superseded once its lines are
        # committed (or there were none): free the storage, or a long
        # --polls daemon grows executor block storage without bound
        release_poll_checkpoint(harvested)
        print(json.dumps(rec))
        if args.poll_interval and k + 1 < args.polls:
            time.sleep(args.poll_interval)
        polls.append(rec)
    print(
        json.dumps(
            {
                "tail_glob": args.tail_glob,
                "polls": len(polls),
                "total_lines": sum(r["new_lines"] for r in polls),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
