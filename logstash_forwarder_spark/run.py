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

from .datagen import gen_sequences, gen_source_dim, source_dim_frame
from .pipeline import PipelineSpec, is_driver_local, row_count, run_pipeline
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
        "--expire-keep-last",
        type=int,
        metavar="N",
        help="maintenance: expire all but the N newest runs (registrar "
        "snapshots) of --out (Iceberg expire_snapshots retainLast; "
        "composable with --expire-older-than) + per-key GC of the expired "
        "runs' published data, then exit",
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
        "expire the runs beyond the K newest and GC their published data "
        "— bounded metadata AND storage at daemon cadence (Iceberg "
        "expire_snapshots in the loop)",
    )
    p.add_argument(
        "--read-as-of",
        dest="as_of",
        metavar="RUN_ID",
        help="time-travel read: per-run, per-sink row counts of the table "
        "under --out as of run RUN_ID's commit (pipeline.read_table), then exit",
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
        "rows by COL before the write so parquet min-max envelopes prune "
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
        table = read_table(spark, args.out)
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

    if args.expire_keep_last is not None or args.expire_older_than:
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
        )
        print(json.dumps(rep))
        return 0

    if args.snapshots:
        # pure metadata (manifest JSON files): no SparkSession, no JVM
        import os

        from .plans.registrar import Registrar

        snaps = Registrar(os.path.join(args.out, "_checkpoint")).snapshots()
        print(
            json.dumps(
                [
                    {
                        "seq": s.sequence_number,
                        "run_id": s.run_id,
                        "sinks": list(s.sinks),
                        "committed_at": s.committed_at.isoformat(),
                    }
                    for s in snaps
                ]
            )
        )
        return 0

    if args.as_of:
        from .pipeline import read_table

        df = read_table(_get_session(args), args.out, as_of=args.as_of)
        rows: dict[str, dict[str, int]] = {}
        for r in df.groupBy("run_id", "sink").count().collect():
            rows.setdefault(r["run_id"], {})[r["sink"]] = r["count"]
        print(json.dumps({"as_of": args.as_of, "rows": rows}))
        return 0

    spark = _get_session(args)

    if args.ship_lumberjack and not (args.tail_glob or (args.conf and args.tail)):
        # one-shot wire-ship: harvest → lumberjack socket, no parquet
        # sinks. (With --tail-glob the SAME flag turns the tail loop into
        # the reference's literal daemon — see _tail_loop.)
        from .sources.textlog import harvest_text_files

        if not args.text_glob:
            p.error("--ship-lumberjack requires --text-glob or --tail-glob")
        host, _, port_s = args.ship_lumberjack.rpartition(":")
        lines = harvest_text_files(spark, args.text_glob).filter("is_complete")
        print(json.dumps(_ship_lumberjack(lines, host, int(port_s))))
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
                "rows_staged": res.rows_staged,
                "elapsed_sec": round(res.elapsed_sec, 3),
                "backend": res.backend,
            }
        )
    )
    return 0


def _ship_lumberjack(lines, host: str, port: int) -> dict:
    """Ship complete harvested lines to a lumberjack receiver as (file,
    host, offset, line) events with blocking acks: the one-shot
    ``--ship-lumberjack`` path and the tail daemon's per-poll ship."""
    import socket

    from .operators.lumberjack_net import publish_lumberjack

    events = lines.select(
        "file",
        F.lit(socket.gethostname()).alias("host"),
        F.col("byte_offset").alias("offset"),
        "line",
    )
    if is_driver_local(events):
        # a driver-harvested poll ships through one connection, as the
        # reference's one publisher does: a LocalRelation's scan slices
        # rows into partitions regardless of files, which would spread
        # one file's lines over connections and lose their order
        events = events.coalesce(1)
    stats = publish_lumberjack(
        events,
        host,
        port,
        pair_cols=["file", "host", "offset", "line"],
        order_col="offset",
    )
    return {
        "shipped": sum(s["n_events"] for s in stats),
        "acked": sum(s["acked"] for s in stats),
        "connections": len(stats),
    }


def _harvest_from_conf(spark, conf_path: str):
    """The literal switch-over path: a logstash-forwarder.conf drives the
    harvest. Every files[] group's globs are discovered driver-side
    (registrar-sized work — a file LIST, never data), dead-time-idle
    files are skipped at discovery (harvester.go dead-time contract),
    '-' reads stdin into a spooled file (S4), and the group's static
    fields ride the enrich dim (:func:`_conf_source_dim`).

    Returns (sequences, source_dim) or (None, None) when nothing
    matched."""
    import glob as globmod
    import os
    import sys
    import tempfile
    import time as timemod

    from .config import load_forwarder_config, parse_duration
    from .sources.textlog import harvest_text_files, lines_to_sequences

    cfg = load_forwarder_config(conf_path)
    now = timemod.time()
    all_paths: list[str] = []
    seen_paths: set[str] = set()
    groups: list[tuple[dict[str, str], list[str]]] = []
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
        groups.append((g.fields, matched))
        all_paths.extend(m for m in matched if m not in seen_paths)
        seen_paths.update(matched)
    if not all_paths:
        return None, None
    seqs = lines_to_sequences(harvest_text_files(spark, all_paths))
    return seqs, _conf_source_dim(spark, groups)


def _conf_source_dim(spark, groups):
    """The ``--conf`` enrich dim: ``groups`` is ``[(fields, paths)]``, one
    per files[] group; every path's source stem (textlog.SOURCE_STEM_RE,
    the rule the ingest applies) keys a dim row carrying its group's
    static fields — FileConfig.Fields (config.go:40) riding the same join
    every other enrich uses. Conflicting fields for one stem across groups
    raise (one dim row per source; the reference's per-harvester
    attachment cannot express two field-sets for one source name either
    once events merge downstream)."""
    import re

    from .sources.textlog import SOURCE_STEM_RE

    stem_re = re.compile(SOURCE_STEM_RE)
    dim_fields: dict[str, dict[str, str]] = {}
    for fields, paths in groups:
        for path in paths:
            src = stem_re.search(path).group(1)
            if dim_fields.setdefault(src, fields) != fields:
                raise SystemExit(
                    f"--conf: source {src!r} gets conflicting fields from "
                    "two files[] groups"
                )
    return source_dim_frame(spark, sorted(dim_fields.items()))


def _tail_loop(spark, args) -> int:
    """The reference daemon's loop at poll granularity: stat the glob,
    seek-read grown bytes, pipe new complete lines through the full
    parse → enrich → route → commit pipeline, sleep, repeat.

    The offsets are part of the commit. Every poll that moves them
    commits exactly one run, ``<base>-p<K>``, whose manifest carries a
    ``tail`` block: the poll number K and the tail state after the poll
    (per file: resume offset, base line, head fingerprint). A poll with
    lines commits them and the offsets in ``run_pipeline``'s one swap; a
    poll with no lines to publish — a ``--tail-from-end`` attach, an
    all-duplicates ``--dedup-store`` poll, a ``--ship-lumberjack`` poll
    once its final ack has arrived — commits a run with the offsets and
    no sinks. A (re)started loop, same ``--run-id`` or not, takes its
    state and poll number K from the committed ``tail`` block with the
    highest poll number. A poll that crashed before its swap left nothing
    visible, so the restart redoes it from the previous run's state,
    re-harvesting its lines together with any growth since: each complete
    line is committed exactly once, and no read-side dedup is needed.
    Before its first poll the loop GCs every uncommitted
    ``run_id=*-p<K>``, the crashed poll's files under whatever
    ``--run-id`` base it ran with (one writer per ``--out``)."""
    import glob
    import os
    import time
    import uuid

    from .plans.manifest import gc_run, publish_run, read_run
    from .plans.registrar import Registrar
    from .sources.textlog import (
        lines_to_sequences,
        poll_tail_once,
        release_poll_checkpoint,
    )

    ship_to = None
    if args.ship_lumberjack:
        # the reference's LITERAL daemon: follow files, ship grown lines
        # over lumberjack with blocking acks, commit the offsets AFTER the
        # final ack (harvester → publisher1 → registrar ordering). A crash
        # between the ack and the commit re-ships the poll's lines on
        # restart — the wire is at-least-once, as the reference's is;
        # receivers dedup on the replay-stable (file, offset) identity the
        # frames carry.
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

    reg = Registrar(os.path.join(args.out, "_checkpoint"))
    last = reg.tail()
    state = _tail_state(last) if last else {}
    poll_no = last["poll"] + 1 if last else 0
    crashed = os.path.join(glob.escape(args.out), f"run_id=*-p{poll_no}")
    for run_dir in glob.glob(crashed):
        if read_run(run_dir) is None:
            gc_run(run_dir)
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
            return _conf_source_dim(
                spark,
                [
                    (g.fields, glob.glob(pat))
                    for g in fcfg.files
                    for pat in g.paths
                    if pat != "-"
                ],
            )

        dim = dim_per_poll()
    polls = []
    for k in range(max(args.polls, 1)):
        if dim_per_poll is not None and k > 0:
            dim = dim_per_poll()
        harvested, new_state = poll_tail_once(
            spark, tail_globs, state, tail_on_rotate=args.tail_from_end
        )
        n_lines = row_count(harvested)
        rec = {"poll": poll_no, "new_lines": n_lines}
        if new_state != state:
            run_id = f"{base}-p{poll_no}"
            tail = {"poll": poll_no, "files": _tail_files(new_state)}
            seqs = None
            if n_lines and ship_to is not None:
                rec.update(_ship_lumberjack(harvested, *ship_to))
            elif n_lines:
                seqs = lines_to_sequences(harvested)
            kept_sigs = None
            if seqs is not None and dedup_store is not None:
                # line-level dedup against the persistent signature store:
                # re-globbed rotated copies / replayed content ship once.
                # The store append follows the run commit, so a crash
                # between the two lets a later copy of this poll's lines
                # through once — duplicates over loss.
                from .operators.incremental import incremental_dedup_batch

                line_ids = F.concat_ws(
                    ":", "file", F.col("line_no").cast("string")
                )
                lines_df = harvested.select(
                    line_ids.alias("line_id"), F.col("line").alias("text")
                )
                kept_sigs = incremental_dedup_batch(
                    spark,
                    dedup_store,
                    lines_df,
                    batch_id=run_id,
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
                rec["dup_lines"] = n_lines - n_kept
                if not n_kept:
                    seqs = None
            rec["run_id"] = run_id
            if seqs is not None:
                res = run_pipeline(
                    spark,
                    seqs,
                    dim,
                    PipelineSpec(
                        out_dir=args.out, run_id=run_id, sort_col=args.sort_by
                    ),
                    tail=tail,
                )
                rec.update(
                    sinks_committed=res.sinks_committed,
                    rows_staged=res.rows_staged,
                    backend=res.backend,
                )
            else:
                # offsets only: a run with no sinks
                publish_run(os.path.join(args.out, f"run_id={run_id}"), [], tail)
            if kept_sigs is not None:
                dedup_store.append(kept_sigs, run_id)
            if args.tail_retain_polls:
                # retention at daemon cadence: expire runs beyond the K
                # newest AFTER this poll's commit — metadata AND published
                # storage stay bounded over an unbounded poll count. The
                # highest poll carries the offsets and is never expired.
                exp = reg.expire_snapshots(keep_last=args.tail_retain_polls)
                if exp["expired"]:
                    rec["expired_runs"] = sorted(exp["expired"])
            state = new_state
            poll_no += 1
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


def _tail_files(state: dict[str, tuple]) -> list[dict]:
    """A tail state (``poll_tail_once``'s) as the run manifest's ``tail``
    block lists it: one object per file."""
    return [
        {
            "file": f,
            "resume_offset": o,
            "base_line": b,
            "head_bytes": n,
            "head_digest": h,
        }
        for f, (o, b, n, h) in sorted(state.items())
    ]


def _tail_state(tail: dict) -> dict[str, tuple]:
    keys = ("resume_offset", "base_line", "head_bytes", "head_digest")
    return {e["file"]: tuple(e[k] for k in keys) for e in tail["files"]}


if __name__ == "__main__":
    sys.exit(main())
