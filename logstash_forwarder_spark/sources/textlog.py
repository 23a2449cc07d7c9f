"""Raw text-log harvesting — the reference's native input format, reborn.

logstash-forwarder's harvester opens each discovered file, reads it line by
line, and tracks the byte offset after every emitted line so the registrar
can resume mid-file (harvester.go:37-79 reads through '\\n';
registrar.go:8-36 persists the post-line offset; prospector.go:24-78 globs
for files). The Spark-native form:

* Discovery = the DataFrame source's glob (``binaryFile`` over a path
  pattern) — S1.
* One file = one row of the binary scan = one task's unit of work, exactly
  the reference's one-harvester-per-file model. Files are the parallelism
  unit; at 100 TB the fleet of log files (thousands) saturates executors
  without any single-file splitting, and no shuffle is needed anywhere —
  line splitting is row-local inside ``mapInArrow``.
* Each line is emitted with its 0-based ``line_no``, the byte offset of
  its first byte (``byte_offset``) and the offset to resume from after it
  (``next_offset`` — the number the reference's registrar writes).
* CRLF is handled the way the reference's readline does (the '\\r' stays
  out of the payload); a final line with no terminating newline is emitted
  with ``is_complete = false`` — the reference would hold it back and
  retry until the newline arrives (harvester.go:141-160), which has no
  batch equivalent, so the flag lets the caller choose.

``poll_tail_once`` is the live tail: it seek-reads only each file's
growth. A poll whose pending growth is at most ``DRIVER_HARVEST_BYTES``
(the measured break-even of a full poll cycle) reads the bytes in the
driver with the same function the Spark kernel runs
(``harvest_tail_batch``) and returns a ``LocalRelation`` — no job, no
``localCheckpoint``; ``lines_to_sequences`` over it folds into another
LocalRelation, so ``run_pipeline`` runs the poll on its driver-local
backend. A larger poll is a Spark job pinned by ``localCheckpoint``.

``resume_harvest`` applies registrar state ((file, resume_offset) pairs —
metadata-sized, broadcast) so a restarted run re-reads only the tail of
each file: the reference's seek-on-resume (registrar state loaded at
harvester start), expressed as a pushed-down filter instead of a seek.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HARVEST_SCHEMA = (
    "file string, line_no long, byte_offset long, next_offset long, "
    "line string, is_complete boolean"
)

# a log file's source name: its basename minus one extension and a
# trailing .gz (app.log, app.log.gz -> app). Read the same by the JVM
# (regexp_extract) and by Python's re, so driver-side code (the --conf
# enrich dim) and the ingest agree on every source.
SOURCE_STEM_RE = r"([^/]+?)(?:\.[^./]*)?(?:\.gz)?$"


def _split_file_arrays(buf: bytes):
    """Split one file's bytes into parallel per-line arrays
    (line_no:int64, byte_offset:int64, next_offset:int64,
    lines:pa.StringArray, is_complete:bool) with NO per-line Python.

    Newline scan, offset vectors, single-'\\r' CRLF strip and the line
    bodies themselves are all bulk numpy/Arrow ops: the bodies are gathered
    into one compacted values buffer in a single fancy-index pass and
    wrapped zero-copy as a ``pa.StringArray`` via (offsets, values)
    buffers — the same values/offsets technique as the parse kernels
    (operators/parse.py). Returns None for an empty file.
    """
    import numpy as np
    import pyarrow.compute as pc

    if not buf:
        return None
    arr = np.frombuffer(buf, dtype=np.uint8)
    nl = np.flatnonzero(arr == 0x0A).astype(np.int64)
    starts = np.concatenate(([0], nl + 1))
    ends = np.concatenate((nl, [np.int64(len(buf))]))
    trailing_partial = bool(starts[-1] != len(buf))
    if not trailing_partial:  # file ends with '\n' → no trailing partial
        starts, ends = starts[:-1], ends[:-1]
    n = len(starts)
    if n == 0:
        return None
    complete = np.ones(n, dtype=bool)
    if trailing_partial:
        complete[-1] = False
    nexts = ends + complete  # resume offset skips the '\n' (complete only)
    # CRLF: strip exactly ONE '\r' immediately before each '\n' (reference
    # readline semantics — harvester.go strips the \r of \r\n, never
    # interior or doubled \r). Vectorized: a boolean-mask rewrite of the
    # buffer, taken ONLY when such a '\r' exists (unix logs skip it).
    crlf_pos = nl[(nl > 0) & (arr[np.maximum(nl - 1, 0)] == 0x0D)] - 1
    if trailing_partial and arr[-1] == 0x0D:
        # a partial tail ending in '\r' also sheds that one byte (it is the
        # start of a CRLF whose '\n' hasn't arrived yet)
        crlf_pos = np.concatenate((crlf_pos, [np.int64(len(arr) - 1)]))
    if len(crlf_pos):
        keep = np.ones(len(arr), dtype=bool)
        keep[crlf_pos] = False
        arr_split = np.ascontiguousarray(arr[keep])
    else:
        arr_split = arr
    # line bodies via Arrow's C++ split (per-line memcpy — ~7x faster than
    # a per-byte numpy gather on this box): wrap the buffer zero-copy as a
    # 1-element binary array, split on '\n', flatten.
    one = pa.BinaryArray.from_buffers(
        pa.binary(),
        1,
        [
            None,
            pa.py_buffer(np.array([0, len(arr_split)], dtype=np.int32)),
            pa.py_buffer(arr_split),
        ],
    )
    flat = pc.list_flatten(pc.split_pattern(one, b"\n"))
    if not trailing_partial:
        flat = flat.slice(0, n)  # drop the empty element after the last '\n'
    try:
        lines = flat.cast(pa.string())  # validates UTF-8 in C++
    except pa.ArrowInvalid:
        # invalid UTF-8 somewhere in the file: rare path, preserve the
        # decode-replace semantics per line (U+FFFD for bad bytes)
        lines = pa.array(
            [b.decode("utf-8", errors="replace") for b in flat.to_pylist()],
            pa.string(),
        )
    return np.arange(n, dtype=np.int64), starts, nexts, lines, complete


# pa.binary() / pa.StringArray carry int32 offsets: one splitter pass is
# structurally capped near 2 GiB. Buffers beyond this (a gzip-rotated log
# easily decompresses past it) are processed in newline-aligned segments,
# yielded individually with shifted coordinates (never concatenated —
# see _split_file_segments).
_SPLIT_SEGMENT_BYTES = 1 << 30


def _split_file_segments(buf: bytes, max_segment: int = _SPLIT_SEGMENT_BYTES):
    """`_split_file_arrays` for buffers of ANY size, as a GENERATOR of
    per-segment tuples: cut the buffer into <= max_segment pieces at
    newline boundaries (so no line straddles a segment), split each, and
    shift line_no/offsets into file coordinates. Only the final segment
    can carry a partial tail by construction.

    Yielding segments (instead of concatenating them) is what keeps the
    ANY-size claim true end-to-end: each segment's StringArray stays under
    Arrow's int32 offset cap, and the harvest kernels emit one RecordBatch
    per bounded group of segments (ADVICE r4 — `pa.concat_arrays` over
    >2 GiB of line bytes raises 'offset overflow'). The one remaining
    structural cap is a SINGLE line longer than ~2 GiB, which no splitter
    with int32-offset output can represent."""
    if len(buf) <= max_segment:
        split = _split_file_arrays(buf)
        if split is not None:
            yield split
        return
    pos = 0
    line_base = 0
    while pos < len(buf):
        end = min(pos + max_segment, len(buf))
        if end < len(buf):
            nl = buf.rfind(b"\n", pos, end)
            if nl < 0:
                # one line longer than a segment: extend to its newline
                nl = buf.find(b"\n", end)
                end = len(buf) if nl < 0 else nl + 1
            else:
                end = nl + 1
        split = _split_file_arrays(buf[pos:end])
        if split is not None:
            ln, so, nx, lines, comp = split
            yield (ln + line_base, so + pos, nx + pos, lines, comp)
            line_base += len(ln)
        pos = end


def _split_file_arrays_chunked(buf: bytes, max_segment: int = _SPLIT_SEGMENT_BYTES):
    """Concatenating wrapper over `_split_file_segments` for SMALL buffers
    (tests, property sweeps). Kernels must NOT use this on unbounded input
    — the concat re-introduces the int32 offset cap the generator avoids."""
    import numpy as np

    parts = list(_split_file_segments(buf, max_segment))
    if not parts:
        return None
    if len(parts) == 1:
        return parts[0]
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
        np.concatenate([p[2] for p in parts]),
        pa.concat_arrays([p[3] for p in parts]),
        np.concatenate([p[4] for p in parts]),
    )


def _maybe_decompress(buf: bytes) -> bytes:
    """Transparent gzip: rotated logs (`app.log.1.gz`, logrotate's output)
    harvest like their plain originals — something the reference never
    could (harvester.go reads raw bytes only). Offsets then index the
    DECOMPRESSED stream: raw gzip is not seekable, so decompressed
    coordinates are the only stable resume contract for such files."""
    if buf[:2] == b"\x1f\x8b":
        import gzip

        return gzip.decompress(buf)
    return buf


_HARVEST_NAMES = ["file", "line_no", "byte_offset", "next_offset", "line", "is_complete"]


def _assemble_harvest_batch(path_col, per_file) -> pa.RecordBatch:
    """One RecordBatch from per-file split arrays: ``per_file`` is a list
    of (path_row_idx, line_no, byte_offset, next_offset, lines, complete).
    The file column is a dictionary gather (np.repeat of path indices,
    C++ take) — no per-line Python objects anywhere."""
    import numpy as np
    import pyarrow.compute as pc

    if not per_file:
        return pa.RecordBatch.from_arrays(
            [pa.array([], t) for t in
             (pa.string(), pa.int64(), pa.int64(), pa.int64(), pa.string(), pa.bool_())],
            names=_HARVEST_NAMES,
        )
    counts = np.array([len(p[1]) for p in per_file], dtype=np.int64)
    path_idx = np.repeat(
        np.array([p[0] for p in per_file], dtype=np.int32), counts
    )
    file_col = pc.take(path_col, pa.array(path_idx))
    if isinstance(file_col, pa.ChunkedArray):  # pragma: no cover
        file_col = file_col.combine_chunks()
    return pa.RecordBatch.from_arrays(
        [
            file_col,
            pa.array(np.concatenate([p[1] for p in per_file])),
            pa.array(np.concatenate([p[2] for p in per_file])),
            pa.array(np.concatenate([p[3] for p in per_file])),
            pa.concat_arrays([p[4] for p in per_file]),
            pa.array(np.concatenate([p[5] for p in per_file])),
        ],
        names=_HARVEST_NAMES,
    )


# output batches flush when their accumulated line bytes reach this, so no
# assemble-time concat can approach Arrow's int32 offset cap (each segment
# is itself <= _SPLIT_SEGMENT_BYTES, so a batch tops out under 2 GiB)
_FLUSH_BYTES = 1 << 30


def _flush_bounded(path_col, segments) -> Iterator[pa.RecordBatch]:
    """Assemble ``segments`` — (path_row_idx, line_no, byte_offset,
    next_offset, lines, complete), as :func:`_assemble_harvest_batch`
    takes them — into at least one RecordBatch, each holding at most
    ``_FLUSH_BYTES`` of line bytes but for a single larger segment:
    mapInArrow may yield many batches, so files (or segmented giant
    files) beyond the budget roll into the next batch instead of
    overflowing a concat."""
    pending: list = []
    pending_bytes = 0
    for seg in segments:
        seg_bytes = seg[4].nbytes
        if pending and pending_bytes + seg_bytes > _FLUSH_BYTES:
            yield _assemble_harvest_batch(path_col, pending)
            pending, pending_bytes = [], 0
        pending.append(seg)
        pending_bytes += seg_bytes
    yield _assemble_harvest_batch(path_col, pending)


def _harvest_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Per-batch: one vectorized split per file (Python touches each FILE
    once, never each line), in bounded batches (:func:`_flush_bounded`)."""
    for batch in batches:
        paths = batch.column("path")
        contents = batch.column("content")
        yield from _flush_bounded(
            paths,
            (
                (row, *seg)
                for row in range(len(paths))
                for seg in _split_file_segments(
                    _maybe_decompress(contents[row].as_py())
                )
            ),
        )


def harvest_text_files(spark, path_glob: str | list[str]) -> DataFrame:
    """Glob-discover text files and emit one row per line with byte-exact
    offsets (S1 + S2). Column-pruned scan: only path + content are read.
    Accepts one glob or an explicit path list (run.py --conf passes the
    dead-time-filtered discovery result)."""
    raw = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return raw.mapInArrow(_harvest_kernel, HARVEST_SCHEMA)


def hashed_tokens(line: str = "line", vocab: int = 2_147_483_647) -> Column:
    """The one tokenizer expression: ``line``'s whitespace-separated words,
    each hashed to a stable int32 id (``xxhash64`` mod ``vocab``).

    Log lines are short, so the interpreted-HOF cost of ``transform`` is
    per-ingest negligible here; bulk token work stays in the Arrow kernels
    (operators/parse.py) downstream."""
    words = F.filter(F.split(line, r"\s+"), lambda w: w != F.lit(""))
    return F.transform(
        words, lambda w: F.pmod(F.xxhash64(w), F.lit(vocab)).cast("int")
    )


def lines_to_sequences(lines: DataFrame, *, vocab: int = 2_147_483_647) -> DataFrame:
    """Bridge harvested lines into the pipeline's sequences shape
    (doc_id, tokens:array<int>, n_tok, source): :func:`hashed_tokens`,
    doc_id = file:line_no (the reference's (path, offset) event identity,
    harvester.go:68-78), source = file stem. Incomplete trailing lines are
    excluded — the reference never ships a line before its newline
    arrives."""
    tokens = hashed_tokens(vocab=vocab)
    return lines.filter("is_complete").select(
        F.concat_ws(":", "file", F.col("line_no").cast("string")).alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        F.regexp_extract("file", SOURCE_STEM_RE, 1).alias("source"),
    )


_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def harvest_text_stream(
    spark, path_glob: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming form of the harvester — the prospector's discovery loop
    (prospector.go:24-78: rescan the glob, start a harvester per new file)
    as a Structured Streaming file source: each newly-appearing file becomes
    one micro-batch row, split by the same kernel. The source's checkpoint
    remembers processed files, so a restart never re-harvests — the
    registrar's never-twice contract at file granularity. (Files are
    immutable once written, per the engine's data model — SURVEY §2.1;
    growing-file tailing has no Spark-source analog and is out of scope.)
    """
    reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path_glob).select("path", "content")
    return raw.mapInArrow(_harvest_kernel, HARVEST_SCHEMA)


TAIL_STATE_SCHEMA = "file string, resume_offset long, base_line long"

# A poll whose pending growth (the bytes past every file's saved offset,
# known from the stat census before any byte is read) is at most this
# many bytes is harvested in the driver, not by a Spark job. The value
# is the measured break-even of a full poll cycle on a 4-core host with
# a 1 GB driver heap (CHANGES.md has the table). It stays far inside that
# heap — the lines are held in the driver twice, as Arrow and as a
# LocalRelation — and far below the Arrow size above which
# createDataFrame returns an RDD-backed frame instead of a LocalRelation
# (spark.sql.execution.arrow.localRelationThreshold, 48 MB by default).
DRIVER_HARVEST_BYTES = 3 << 20

# head-fingerprint length: enough bytes that two different log streams
# collide only by hash collision, small enough that the per-tick identity
# read is one page-cached block per file
_FP_BYTES = 4096


def _digest(data: bytes) -> str:
    import hashlib

    return hashlib.blake2b(data, digest_size=16).hexdigest()


def discover_tails(
    path_glob: str | list[str],
    state: dict[str, tuple],
    *,
    tail_on_rotate: bool = False,
) -> list[tuple[str, int, int, tuple[int, str], int]]:
    """One prospector tick (prospector.go:24-78): glob the pattern(s) and
    return (file, resume_offset, base_line, head_fp, size) for every file
    that needs harvesting. New files start at (0, 0). Driver-side by design:
    the file census is registrar-sized (one entry per file), exactly the
    state the reference's prospector holds in memory.

    Identity: the reference tells "same file grew" from "new file at the
    same path" by inode comparison (filecompare.go:10-13); a path-keyed,
    filesystem-portable registrar uses the CONTENT head instead — a
    fingerprint of the first ``min(_FP_BYTES, size)`` bytes, recorded in
    state as ``(n_bytes, digest)``. Append-only growth never changes the
    head; rotation (logrotate ``create`` replacing the path) does, even
    when the replacement is the same size or larger — both restart at
    byte 0 like the explicit-truncation case (``size < offset``,
    harvester.go:57-63). The check costs one page-cached 4 KiB read per
    file per tick, the same cost class as the stat census. Legacy state
    entries without a fingerprint skip the check for one tick and gain
    one at their next advance.

    ``tail_on_rotate`` is the reference's ``-tail`` flag
    (logstash-forwarder.go:77, harvester.go:116-122: any open with no
    saved offset seeks to EOF): a file with NO state entry — first
    daemon launch over a pre-existing log, or fresh post-rotation
    content — ATTACHES at its current size instead of byte 0, skipping
    history ("may skip entries", the flag's own help text). Attach-only
    entries come back with ``resume_offset == size`` so the poll records
    the attach point even when nothing grows; line numbering counts from
    the attach point (the reference tracks no line numbers at all)."""
    import glob as _glob
    import os

    pats = [path_glob] if isinstance(path_glob, str) else list(path_glob)
    out = []
    for p in sorted({m for pat in pats for m in _glob.glob(pat)}):
        known = p in state
        v = state.get(p, (0, 0))
        off, base = int(v[0]), int(v[1])
        rec_fp = (int(v[2]), str(v[3])) if len(v) >= 4 else None
        try:
            size = os.path.getsize(p)
            with open(p, "rb") as f:
                head = f.read(_FP_BYTES)
        except OSError:
            continue  # rotated away between glob and stat/read
        fp = (len(head), _digest(head))
        rotated = size < off  # truncation (logrotate copytruncate)
        if not rotated and off > 0 and rec_fp is not None:
            n = rec_fp[0]
            rotated = n > len(head) or (
                rec_fp != (fp if n == len(head) else (n, _digest(head[:n])))
            )
        if not known and tail_on_rotate:
            out.append((p, size, 0, fp, size))  # attach at EOF, skip history
        elif rotated:
            # line numbering restarts with the new content
            out.append((p, size if tail_on_rotate else 0, 0, fp, size))
        elif size > off:
            out.append((p, off, base, fp, size))
    return out


def harvest_tail_batch(b: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
    """Seek-read the grown bytes of ``b``'s files — rows of (file,
    resume_offset, base_line) — as :data:`HARVEST_SCHEMA` batches, at
    least one: the body of :func:`tail_harvest`'s kernel, which the
    driver also runs itself for a driver-sized poll
    (:func:`poll_tail_once`). Gzip files and files that vanished are
    skipped."""
    paths = b.column("file").to_pylist()
    offs = b.column("resume_offset").to_pylist()
    bases = b.column("base_line").to_pylist()

    def segments():
        for row, (p, off, base) in enumerate(zip(paths, offs, bases)):
            try:
                with open(p, "rb") as f:
                    if f.read(2) == b"\x1f\x8b":
                        continue  # live gzip: not seekable, skip
                    f.seek(int(off))
                    buf = f.read()
            except OSError:
                continue  # rotated away mid-poll; next tick re-globs
            for ln, so, nx, lines, comp in _split_file_segments(buf):
                yield row, ln + int(base), so + int(off), nx + int(off), lines, comp

    # a poll that catches up on >2 GiB of growth must not overflow the
    # assemble-time concat either
    return _flush_bounded(b.column("file"), segments())


def tail_harvest(spark, tails: DataFrame) -> DataFrame:
    """Harvest only the GROWN byte range of live files — the reference
    harvester's re-poll loop (harvester.go:152: read to EOF, sleep, retry
    from the saved offset), reborn as a seek-read kernel over a
    registrar-shaped input.

    ``tails``: (file, resume_offset, base_line) — typically
    ``discover_tails`` output. Each executor task opens its files at
    ``resume_offset`` and reads forward only (the reference's seek —
    unlike ``binaryFile`` + filter, bytes before the offset are never
    read, so a poll costs O(growth), not O(file)). Emitted rows carry
    ABSOLUTE coordinates: line_no continues at base_line, offsets are
    file offsets. An unterminated trailing line is emitted with
    ``is_complete = false`` and its bytes are NOT consumed —
    ``advance_tail_state`` moves the offset past complete lines only, so
    the next poll re-reads the partial tail once its newline arrives
    (harvester.go:141-160 hold-back semantics).

    Requires executors to see the same filesystem as the driver (true for
    local mode and any shared-storage cluster — the same constraint the
    binaryFile source has). Gzip files are skipped: a growing gzip stream
    is not seekable; rotated .gz files harvest whole via
    ``harvest_text_files``.
    """
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield from harvest_tail_batch(b)

    return tails.select("file", "resume_offset", "base_line").mapInArrow(
        kernel, HARVEST_SCHEMA
    )


def advance_tail_state(harvested: DataFrame) -> DataFrame:
    """Fold a ``tail_harvest`` result into the next poll's registrar rows:
    per file, the max ``next_offset`` over COMPLETE lines and the line
    count consumed — partial tails advance nothing (they re-emit next
    poll). Registrar-sized output; the polling loop collects it."""
    return (
        harvested.filter("is_complete")
        .groupBy("file")
        .agg(
            F.max("next_offset").cast("long").alias("resume_offset"),
            (F.max("line_no") + 1).cast("long").alias("base_line"),
        )
    )


def release_poll_checkpoint(df: DataFrame) -> None:
    """Free a SUPERSEDED poll's localCheckpoint storage (its lines are
    committed downstream; nothing will recompute it). DataFrame.unpersist
    does not release checkpoint blocks — only the analyzed plan's RDD
    unpersist does (CLAUDE.md round-3). Safe no-op on non-checkpointed
    frames."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def poll_tail_once(
    spark,
    path_glob: str | list[str],
    state: dict[str, tuple],
    *,
    tail_on_rotate: bool = False,
) -> tuple[DataFrame, dict[str, tuple]]:
    """One complete tail tick: discover grown files, seek-harvest their
    new bytes, and return (complete new lines, advanced state). Run it on
    an interval for slow-rotating logs — the reference's harvester loop
    at poll granularity. Partial tails stay out of both the emitted rows
    and the state, so every line is emitted exactly once, whole.

    The pending growth, Σ(size − resume_offset) over the discovered
    files, picks where the bytes are read: at most
    ``DRIVER_HARVEST_BYTES`` in the driver (no Spark job; the lines come
    back as a ``LocalRelation``), more by a ``tail_harvest`` job pinned
    with an eager ``localCheckpoint``. Both return the same rows and
    state.

    ``tail_on_rotate``: the reference's ``-tail`` flag (see
    ``discover_tails``). Every discovered entry's attach point is
    pre-seeded into the returned state BEFORE harvest advances overwrite
    it, so an attach-at-EOF with zero growth is still recorded — the
    poll-granularity stand-in for the reference's keep-the-fd-open seek
    (a later tick must resume from the recorded attach point, not re-seek
    to a newer EOF and drop the interim growth)."""
    tails = discover_tails(path_glob, state, tail_on_rotate=tail_on_rotate)
    # head fingerprints are taken at DISCOVERY (pre-harvest), so a
    # rotation racing the harvest is caught by the NEXT tick's check
    fps = {p: fp for p, _, _, fp, _ in tails}
    todo = pa.RecordBatch.from_arrays(
        [
            pa.array([t[0] for t in tails], pa.string()),
            pa.array([t[1] for t in tails], pa.int64()),
            pa.array([t[2] for t in tails], pa.int64()),
        ],
        names=["file", "resume_offset", "base_line"],
    )
    if sum(size - o for _, o, _, _, size in tails) <= DRIVER_HARVEST_BYTES:
        # driver-sized: read the bytes here. The lines become a
        # LocalRelation, which pins this tick's snapshot by construction
        # and which run_pipeline runs on its driver-local backend.
        lines = pa.Table.from_batches(list(harvest_tail_batch(todo)))
        lines = lines.filter(lines["is_complete"])
        adv = lines.group_by("file").aggregate(
            [("next_offset", "max"), ("line_no", "max")]
        )
        advanced = zip(
            adv["file"].to_pylist(),
            adv["next_offset_max"].to_pylist(),
            [n + 1 for n in adv["line_no_max"].to_pylist()],
        )
        harvested = spark.createDataFrame(lines, HARVEST_SCHEMA)
    else:
        # eager checkpoint pins THIS tick's bytes: the kernel re-running
        # lazily after the file grew again would emit lines the advanced
        # state has not consumed (and re-emit them next poll)
        tdf = spark.createDataFrame(pa.Table.from_batches([todo]), TAIL_STATE_SCHEMA)
        harvested = (
            tail_harvest(spark, tdf).filter("is_complete").localCheckpoint(eager=True)
        )
        advanced = advance_tail_state(harvested).collect()
    new_state = dict(state)
    if tail_on_rotate:
        # record attach points (resume_offset == size ⇒ no harvest rows
        # ⇒ no advance row) so the next tick resumes from here
        for p, o, b, (fp_len, fp_hex), _ in tails:
            new_state[p] = (o, b, fp_len, fp_hex)
    for file, resume_offset, base_line in advanced:
        new_state[file] = (resume_offset, base_line, *fps[file])
    return harvested, new_state


def resume_harvest(harvested: DataFrame, offsets: DataFrame) -> DataFrame:
    """Drop lines already shipped per registrar state.

    ``offsets``: (file, resume_offset) — the max ``next_offset`` the
    registrar recorded per file. Registrar state is metadata-sized (one row
    per file), so it broadcasts; unseen files pass through whole (left join
    null → offset 0), mirroring the reference's start-at-zero for new files
    (registrar resume in logstash-forwarder.go:78-96).
    """
    o = offsets.select(
        "file", F.col("resume_offset").cast("long").alias("_resume")
    )
    return (
        harvested.join(F.broadcast(o), "file", "left")
        .filter(F.col("byte_offset") >= F.coalesce(F.col("_resume"), F.lit(0)))
        .drop("_resume")
    )
