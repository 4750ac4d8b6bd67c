"""WARC ingestion: read Common-Crawl-style web archives into the
engine's input shape (url, warc_ts, html, lang).

The north-star input is an Iceberg table of Common-Crawl-style pages;
this module covers the step BEFORE that table exists — the raw crawl
archives. WARC/1.x 'response' records are parsed by a pure-Python
resumable record walker (unit-testable without Spark), and the Spark
surface reads archive files through ``binaryFile`` + ``mapInPandas``.

Scale design (the honest version): a ``.warc.gz`` is a concatenation
of per-record gzip members, which is NOT seekable mid-file without the
companion index, so the default parallel unit is the FILE — exactly
how Common Crawl ships data (~1 GiB x tens of thousands of files per
crawl, ample parallelism for any cluster). For the pathological case
(one multi-hundred-GiB archive that would serialize into a single
task), ``read_warc_indexed`` accepts the CDX companion index Common
Crawl publishes (``parse_cdxj``) and splits record RANGES across
tasks — optional by design; without an index the per-file unit
stands.

Memory design: nothing in this module ever materializes a whole
decompressed archive. Decompression is the standard library's
streaming ``gzip.GzipFile`` (concatenated per-record members, zero
padding between them, a CRC check per member), read in bounded
``read1`` chunks; the record walker keeps only a compacted window of
O(largest record), and the Spark kernels flush size-bounded output
DataFrames instead of accumulating a batch's worth of pages. Peak task
memory is therefore O(chunk + largest record [+ compressed file, only
when the storage scheme forces Spark to hand us whole ``content``]) —
never O(decompressed file). For local /
``file:`` inputs even the compressed side is streamed from disk
(``binaryFile`` prunes the unused ``content`` column). A
Common-Crawl-shaped ~1 GiB archive (~4-5 GiB raw) thus costs a task
~1 GiB worst case remote, ~16 MiB local — vs ~5-6 GiB before this
design. ``max_concurrent_files`` additionally caps cluster-wide
concurrent archive tasks for memory-tight executors.

Malformed records become skips counted in ``n_bad`` per file
(surfaced via ``warc_file_stats``), never task failures (the E2 rule).
A mid-file decompression error salvages the records already parsed
(the valid prefix) and marks the file unreadable in the stats
(``n_bad = -1``).
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "url string, warc_ts timestamp, html binary, lang string, "
    "warc_file string"
)

_CHUNK = 1 << 20  # 1 MiB cap on one read1 of an archive
_FLUSH_BYTES = 64 << 20  # flush kernel output every ~64 MiB of html
# a Content-Length above this is treated as a malformed record (bad),
# not buffered: otherwise one adversarial/corrupt length would make
# the streaming walker accumulate the whole remaining file, voiding
# the O(largest-record) memory bound. Common-Crawl payloads are ~1 MiB
# (truncated); 1 GiB is far beyond any legitimate record.
MAX_RECORD_BYTES = 1 << 30


def _parse_header_lines(head) -> dict:
    """Colon-separated header lines -> dict; names lower-cased."""
    headers: dict = {}
    for line in head.split(b"\n"):
        line = line.strip(b"\r")
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[bytes(k).strip().lower().decode("latin-1")] = (
                bytes(v).strip().decode("latin-1")
            )
    return headers


def _split_headers(block) -> tuple[dict, "bytes"]:
    """(headers, rest-after-blank-line); header names lower-cased."""
    head, sep, rest = block.partition(b"\r\n\r\n")
    if not sep:  # tolerate bare-LF writers
        head, sep, rest = block.partition(b"\n\n")
    return _parse_header_lines(head), rest


def _parse_one(data, pos: int, eof: bool):
    """Resumable single-record step over a buffered window.

    Returns ``(kind, record, new_pos)`` where kind is one of
    ``"record"`` (a parsed response or a ``{'bad': True}`` marker),
    ``"skip"`` (well-formed non-response record), ``"need"`` (not
    enough buffered bytes — only when ``not eof``; ``new_pos`` is the
    compaction point: everything before it can be discarded), or
    ``"done"`` (no further record in this data).

    This is the one implementation of WARC semantics: `parse_warc`
    (whole-buffer) and `iter_warc_stream` (chunked) both drive it, so
    streaming and in-memory parses are identical by construction.
    """
    n = len(data)
    nxt = data.find(b"WARC/", pos)
    if nxt < 0:
        if eof:
            return "done", None, n
        # the 5-byte marker may straddle a chunk boundary: keep a tail
        return "need", None, max(pos, n - 4)
    pos = nxt
    hdr_end = data.find(b"\r\n\r\n", pos)
    lf_only = False
    if hdr_end < 0 or (0 <= data.find(b"\n\n", pos) < hdr_end):
        alt = data.find(b"\n\n", pos)
        if alt >= 0 and (hdr_end < 0 or alt < hdr_end):
            hdr_end, lf_only = alt, True
    if hdr_end < 0:
        if eof:
            return "done", None, n
        return "need", None, pos
    headers, _ = _split_headers(data[pos : hdr_end + 2])
    body_start = hdr_end + (2 if lf_only else 4)
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        length = -1
    if length < 0 or length > MAX_RECORD_BYTES:
        # missing/garbage/NEGATIVE length (would move the scan
        # BACKWARDS — infinite loop) or an absurd length (would make
        # the streaming walker buffer the whole remaining file): treat
        # as malformed and resume at the next version line
        return "record", {"bad": True}, body_start
    if body_start + length > n and not eof:
        return "need", None, pos
    body_end = min(body_start + length, n)
    new_pos = body_start + length
    if headers.get("warc-type") != "response":
        return "skip", None, new_pos
    url = headers.get("warc-target-uri")
    ts = headers.get("warc-date")
    if not url or not ts:
        return "record", {"bad": True}, new_pos
    # locate the HTTP envelope boundary IN PLACE (no whole-body slices:
    # bounded-memory streaming copies the body exactly once, below)
    env = data.find(b"\r\n\r\n", body_start, body_end)
    if env >= 0:
        head_slice, pay_start = data[body_start:env], env + 4
    else:  # tolerate bare-LF writers
        env = data.find(b"\n\n", body_start, body_end)
        if env >= 0:
            head_slice, pay_start = data[body_start:env], env + 2
        else:
            head_slice, pay_start = data[body_start:body_end], body_end
    http_headers = _parse_header_lines(head_slice)
    if not http_headers:  # no HTTP envelope: block IS the payload
        pay_start = body_start
    return (
        "record",
        {
            "url": url,
            "ts": ts,
            "html": bytes(memoryview(data)[pay_start:body_end]),
            "lang": http_headers.get("content-language"),
        },
        new_pos,
    )


def iter_warc_stream(
    chunks: Iterable[bytes], emit_skips: bool = False
) -> Iterator[dict]:
    """Walk WARC records over an iterable of raw (decompressed) byte
    chunks, holding only a compacted O(largest-record) window. Yields
    the same dicts as `parse_warc`; with ``emit_skips`` also yields
    ``{'skip': True}`` markers for well-formed non-response records
    (warcinfo, request, ...) so callers can count TOTAL records."""
    buf = bytearray()
    it = iter(chunks)
    eof = False
    pos = 0
    while True:
        kind, rec, pos = _parse_one(buf, pos, eof)
        if kind == "record":
            yield rec
        elif kind == "skip":
            if emit_skips:
                yield {"skip": True}
        elif kind == "done":
            return
        else:  # need more data: compact the consumed prefix, pull a chunk
            if pos:
                del buf[:pos]
                pos = 0
            try:
                buf.extend(next(it))
            except StopIteration:
                eof = True


def parse_warc(data: bytes, emit_skips: bool = False) -> Iterator[dict]:
    """Walk WARC records in raw (already-decompressed) bytes, yielding
    {'url', 'ts', 'html', 'lang'} for each well-formed *response*
    record. Content-Length is authoritative for the block; the HTTP
    envelope inside a response block is stripped down to the payload.
    Yields {'bad': True} markers for malformed records (the caller
    counts them; parsing continues at the next version line). Thin
    whole-buffer wrapper over the resumable `_parse_one` core."""
    return iter_warc_stream((data,), emit_skips=emit_skips)


def _local_fs_path(path: str) -> str:
    """Normalize a 'file:'/'local:' URI (as produced by binaryFile) to
    a plain filesystem path. A non-local scheme (hdfs://, s3a://, ... —
    possible when a scheme-less input resolved through a remote
    defaultFS) raises RuntimeError, which the ingest kernels do NOT
    swallow: better a loud task failure than silently returning zero
    rows for every archive."""
    local = path
    scheme, sep, _ = local.partition(":")
    if sep and scheme not in ("file", "local"):
        raise RuntimeError(
            f"WARC local-streaming got non-local path {path!r}; the "
            "cluster's default filesystem is remote — read_warc's "
            "content mode handles this (pass an explicit scheme in the "
            "input path)"
        )
    if local.startswith(("file:", "local:")):
        local = local.partition(":")[2]
        while local.startswith("//"):
            local = local[1:]
    return local


class _GzipArchive(gzip.GzipFile):
    """A ``GzipFile`` that closes the file it reads: a plain
    ``GzipFile`` leaves a handed-in ``fileobj`` open."""

    def close(self):
        f = self.fileobj
        try:
            super().close()
        finally:
            if f is not None:
                f.close()


def _open_archive(path: str, content=None):
    """Open one archive for reading: the local file (see _local_fs_path
    for the scheme rule), or the compressed ``content`` bytes when
    Spark shipped them. A gzip archive (concatenated members, zero
    padding between them allowed) comes back as a ``GzipFile``, a plain
    one as the file itself; closing either closes the file. The open
    is EAGER, so open()-time failures of ANY class (missing path,
    permissions, EMFILE fd exhaustion, ELOOP, ...) raise at the call
    site, OUTSIDE the kernels' mid-stream salvage try-blocks.
    Enumerating 'open-error' exception classes proved incomplete
    (round-6 review): hoisting the open is the structural fix."""
    f = (
        open(_local_fs_path(path), "rb")
        if content is None
        else io.BytesIO(bytes(content))
    )
    magic = f.read(2)
    f.seek(0)
    return _GzipArchive(fileobj=f) if magic == b"\x1f\x8b" else f


# the messages of gzip.GzipFile's end-of-member check
_CHECK_FAILED = ("CRC check failed", "Incorrect length of data produced")


def _records(archive, emit_skips: bool = False) -> Iterator[dict]:
    """Walk the records of an ``_open_archive`` result, closing it at
    the end. ``read1``, not ``read``: one ``read1`` decodes at most one
    gzip member, so a corrupt member never discards records already
    decoded before it (a ``read`` of _CHUNK spans many members).

    ``GzipFile`` checks a member's CRC and size on the read AFTER the
    one that returned the member's last bytes, so each chunk reaches
    the walker only once the next read has returned; when that read
    fails the check, the chunk is dropped and the member never
    completes a record. Any other failure of the next read (a corrupt
    next member, trailing garbage) keeps the chunk: it is valid."""

    def checked() -> Iterator[bytes]:
        held = archive.read1(_CHUNK)
        while held:
            try:
                nxt = archive.read1(_CHUNK)
            except (OSError, EOFError, zlib.error) as e:
                if not str(e).startswith(_CHECK_FAILED):
                    yield held
                raise
            yield held
            held = nxt

    with archive:
        yield from iter_warc_stream(checked(), emit_skips=emit_skips)


def _is_local(path: str) -> bool:
    scheme, sep, _ = path.partition(":")
    return not sep or scheme in ("file", "local")


def _file_source(spark, path, local, max_concurrent_files):
    """The archive-file task list. In local (path-only) mode the list
    is ALWAYS repartitioned: binaryFile bin-packs by COMPRESSED listed
    size (default 128 MiB/partition), but the task cost here is per
    DECOMPRESSED byte — a 2.5 GB-raw corpus of ~3 MiB .gz files packed
    into 4 partitions left half of an 8-core box idle (measured
    eff 0.76 -> see scripts/warc_bench.py). Shuffling path strings is
    free; content mode keeps Spark's packing (repartitioning would
    shuffle the compressed bytes) unless the caller caps concurrency."""
    src = spark.read.format("binaryFile").load(path)
    if local:
        n = max_concurrent_files or spark.sparkContext.defaultParallelism * 2
        return src.select("path").repartition(n)
    src = src.select("path", "content")
    if max_concurrent_files:
        src = src.repartition(max_concurrent_files)
    return src


def _frames(pairs: Iterable[tuple[str, dict]]) -> Iterator[pd.DataFrame]:
    """``(path, record)`` pairs -> ``WARC_SCHEMA`` pandas frames, each
    flushed once it holds ``_FLUSH_BYTES`` of html, so a task never
    accumulates a batch's worth of pages. The one output buffer of
    every WARC reader and fused extractor."""
    batch: list[tuple[str, dict]] = []
    pending = 0

    def flush() -> pd.DataFrame:
        nonlocal batch, pending
        out, batch, pending = batch, [], 0
        tss = pd.Series([rec["ts"] for _, rec in out], dtype="object")
        return pd.DataFrame(
            {
                "url": [rec["url"] for _, rec in out],
                # an explicit format: otherwise pandas infers one from
                # the frame's first value, and a later WARC-Date of
                # another precision becomes NaT (WARC/1.0 and 1.1 dates
                # are W3C ISO-8601)
                "warc_ts": pd.to_datetime(
                    tss, utc=True, errors="coerce", format="ISO8601"
                ).dt.tz_localize(None),
                "html": [rec["html"] for _, rec in out],
                "lang": [rec["lang"] for _, rec in out],
                "warc_file": [p for p, _ in out],
            }
        )

    for p, rec in pairs:
        batch.append((p, rec))
        pending += len(rec["html"])
        if pending >= _FLUSH_BYTES:
            yield flush()
    if batch:
        yield flush()


def _iter_file_records(batches: Iterator[pd.DataFrame]):
    """Walk (path, record) pairs for a task's archive files (the
    ``_file_source`` rows: a path, plus the compressed bytes in content
    mode). Malformed records are skipped."""
    for pdf in batches:
        contents = pdf["content"] if "content" in pdf.columns else None
        for i, p in enumerate(pdf["path"]):
            content = None if contents is None else contents.iloc[i]
            # the open happens HERE, outside the salvage try: a
            # listed path that can't be opened (deleted between
            # listing and task, permissions, fd exhaustion, ...)
            # fails the task loudly, whatever the error class —
            # same rule as the non-local-scheme RuntimeError
            # (ADVICE r5; structural form from the r6 review)
            stream = _records(_open_archive(p, content))
            try:
                for rec in stream:
                    if not rec.get("bad"):
                        yield p, rec
            except (OSError, EOFError, zlib.error):
                # corrupt archive mid-stream: keep the valid
                # prefix, never fail the task (warc_file_stats
                # flags the file)
                continue


def warc_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The ``read_warc`` task body: archive-file rows -> WARC frames."""
    return _frames(_iter_file_records(batches))


def index_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The ``read_warc_indexed`` task body: index rows -> WARC frames."""
    return _frames(_iter_index_records(batches))


def read_warc(
    spark: SparkSession,
    path: str,
    max_concurrent_files: int | None = None,
) -> DataFrame:
    """WARC archive files -> (url, warc_ts, html, lang, warc_file):
    one streamed parse pass per file, no driver-side I/O.

    binaryFile supplies the file listing; for local/'file:' storage the
    ``content`` column is pruned away and each task streams its archive
    from disk (peak memory O(record)); for remote
    storage Spark ships the compressed bytes and only the gunzip side
    streams (peak O(compressed + record)). Output rows are flushed in
    ~64 MiB pandas frames, never accumulated per batch. A corrupt
    archive salvages its valid prefix and never fails the task.
    ``max_concurrent_files`` repartitions the file list to bound how
    many archives decompress at once cluster-wide."""
    src = _file_source(spark, path, _is_local(path), max_concurrent_files)
    return src.mapInPandas(warc_frames, schema=WARC_SCHEMA)


def warc_file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-archive ingest counters (the E3 pattern for the crawl
    source): (warc_file, n_records, n_response, n_bad). n_records
    counts EVERY record the walker saw — responses, malformed markers,
    and well-formed non-response records (warcinfo/request/...).
    n_bad = -1 flags an unreadable/truncated archive (counters then
    cover the salvaged prefix)."""
    local = _is_local(path)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            contents = pdf["content"] if "content" in pdf.columns else None
            for i, p in enumerate(pdf["path"]):
                content = None if contents is None else contents.iloc[i]
                n_rec = n_resp = n_bad = 0
                try:
                    for rec in _records(_open_archive(p, content), emit_skips=True):
                        n_rec += 1
                        if rec.get("skip"):
                            pass
                        elif rec.get("bad"):
                            n_bad += 1
                        else:
                            n_resp += 1
                    rows.append((p, n_rec, n_resp, n_bad))
                except (OSError, EOFError, zlib.error):
                    rows.append((p, n_rec, n_resp, -1))  # unreadable archive
            yield pd.DataFrame(
                rows, columns=["warc_file", "n_records", "n_response", "n_bad"]
            )

    src = _file_source(spark, path, local, None)
    return src.mapInPandas(
        kernel,
        schema="warc_file string, n_records long, n_response long, n_bad long",
    )


def write_warc(
    records: list[dict], path: str, per_record_gzip: bool = True
) -> list[dict]:
    """Serialize (url, ts, html[, lang]) dicts as a WARC/1.0 file —
    per-record gzip members when ``per_record_gzip`` (the .warc.gz
    layout), plain otherwise. Used by tests and as the export analog
    of the reader; deterministic given its input. Returns the member
    index (one dict per record: url, offset, length of the compressed
    member) — the CDX companion a .warc.gz writer knows for free."""
    out = io.BytesIO()
    index: list[dict] = []
    for r in records:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
        if r.get("lang"):
            http += b"\r\nContent-Language: " + r["lang"].encode()
        http += b"\r\n\r\n"
        block = http + bytes(r["html"])
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + r["url"].encode() + b"\r\n"
            b"WARC-Date: " + r["ts"].encode() + b"\r\n"
            b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n"
        )
        rec = head + block + b"\r\n\r\n"
        member = gzip.compress(rec) if per_record_gzip else rec
        index.append(
            {"url": r["url"], "offset": out.tell(), "length": len(member)}
        )
        out.write(member)
    with open(path, "wb") as f:
        f.write(out.getvalue())
    return index


# ---------------------------------------------------------------------------
# index-driven record-range splitting (the giant-archive escape hatch)
# ---------------------------------------------------------------------------

def parse_cdxj(spark: SparkSession, index_path: str) -> DataFrame:
    """CDX(J) companion index -> (warc_file, offset, length).

    Common Crawl publishes one CDXJ line per record:
    ``<urlkey> <timestamp> {json}`` where the json carries
    ``filename`` / ``offset`` / ``length`` (the compressed byte range
    of that record's gzip member — offset/length are JSON *strings* in
    the published format). Parsed natively (substr to the first '{' +
    from_json), no Python in the path; lines without the three fields
    are dropped."""
    from pyspark.sql import functions as F

    raw = spark.read.text(index_path)
    j = F.from_json(
        F.expr("substr(value, instr(value, '{'))"),
        "filename string, offset string, length string",
    )
    return (
        raw.withColumn("_j", j)
        .select(
            F.col("_j.filename").alias("warc_file"),
            F.col("_j.offset").cast("long").alias("offset"),
            F.col("_j.length").cast("long").alias("length"),
        )
        .where(
            F.col("warc_file").isNotNull()
            & F.col("offset").isNotNull()
            & F.col("length").isNotNull()
        )
    )


def read_warc_indexed(
    spark: SparkSession,
    index: DataFrame,
    warc_root: str | None = None,
    records_per_split: int = 10_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Record-range-parallel WARC ingest driven by a CDX-style index
    (``parse_cdxj`` or any DataFrame with warc_file/offset/length).

    Per-FILE parallelism (read_warc) is the honest unit for 1 GiB
    Common-Crawl shards, but ONE pathological multi-hundred-GiB
    archive would serialize into a single task. Because every record
    is its own gzip member, the companion index makes records
    independently seekable: this reader groups index rows into splits
    of ``records_per_split`` records per file (a per-file window over
    the INDEX — metadata rows, not content), shuffles on
    (warc_file, split), and each task seeks/reads/gunzips only its
    members. Peak task memory stays O(largest member). The exchange
    width defaults to 2x defaultParallelism (``num_partitions``
    overrides) — see the inline note on why adaptive sizing must not
    decide it. Optional by design: without an index, read_warc's
    per-file unit stands.

    Local-filesystem paths only (seek needs a posix handle); a remote
    scheme fails loudly per the _local_fs_path rule. ``warc_root``
    prefixes relative index filenames (Common Crawl publishes paths
    relative to the bucket root). Corrupt members are skipped
    (mid-stream salvage rule); open failures raise."""
    idx = _split_index(
        spark, index, warc_root, records_per_split, num_partitions
    )
    return idx.mapInPandas(index_frames, schema=WARC_SCHEMA)


def _split_index(
    spark, index, warc_root, records_per_split, num_partitions
) -> DataFrame:
    """Plan the (warc_file, split) task layout over the index rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    idx = index.select("warc_file", "offset", "length")
    if warc_root is not None:
        root = warc_root.rstrip("/") + "/"
        idx = idx.withColumn("warc_file", F.concat(F.lit(root), "warc_file"))
    w = Window.partitionBy("warc_file").orderBy("offset")
    idx = idx.withColumn(
        "split", ((F.row_number().over(w) - F.lit(1)) / records_per_split).cast("long")
    )
    # the exchange width MUST be explicit: the shuffle carries tiny
    # index METADATA (~50 B/record) while the task cost is the
    # downstream seek+gunzip per DECOMPRESSED byte — AQE's size-based
    # coalescing would judge a 300-GiB archive's index "one small
    # partition" and serialize the whole decompression (measured: 1200
    # records coalesced to 1 task). Same class of fix as read_warc's
    # path-list repartition against binaryFile's compressed-size
    # bin-packing.
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    return idx.repartition(
        n, F.col("warc_file"), F.col("split")
    ).sortWithinPartitions("warc_file", "offset")


def _iter_index_records(batches: Iterator[pd.DataFrame]):
    """Walk (path, record) pairs for a task's index rows: one open
    handle per contiguous file run, seek+read+gunzip per member.
    Corrupt members are skipped (mid-stream salvage rule); open-time
    failures raise loudly. The walker of ``index_frames``, so of
    read_warc_indexed and extraction.extract_from_warc_indexed."""
    cur_path: str | None = None
    f = None
    try:
        for pdf in batches:
            for p, off, ln in zip(pdf["warc_file"], pdf["offset"], pdf["length"]):
                if p != cur_path:
                    if f is not None:
                        f.close()
                    f = open(_local_fs_path(p), "rb")  # open errors raise
                    cur_path = p
                f.seek(int(off))
                member = f.read(int(ln))
                try:
                    for rec in _records(_open_archive(p, member)):
                        if rec.get("bad"):
                            continue
                        yield p, rec
                except (OSError, EOFError, zlib.error):
                    # corrupt member (BadGzipFile, a truncated member's
                    # EOFError, a bad deflate stream's zlib.error):
                    # skip it, keep the rest. The file open above is
                    # outside this try, so unopenable archives still
                    # fail loudly.
                    continue
    finally:
        if f is not None:
            f.close()
