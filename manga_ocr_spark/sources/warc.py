"""WARC (ISO 28500) source: Common-Crawl-style archive files -> pages.

The engine's input contract is an Iceberg-layout table of pages
(BASELINE input_hint), but the table has to come from somewhere: real
Common-Crawl deployments land `.warc.gz` segment files and explode them
into page rows as the ingest step. This source does that Spark-natively:

- ``spark.read.format("binaryFile")`` assigns ONE FILE PER TASK — WARC
  gzip is not block-splittable without an external index, and one-task-
  per-file is exactly how production CC pipelines parallelize (a crawl
  is ~64k segment files of ~1 GB; the file *count* provides the
  parallelism, not intra-file splits). For intra-file splits, use
  :func:`pages_from_warc_ranges` with a CDX-style offset index.
- record parsing runs in an Arrow-batched ``mapInArrow``, STREAMING:
  gzip members decompress one at a time and output RecordBatches flush
  every ``_BATCH_PAGES`` pages / ``_BATCH_BYTES`` bytes, so peak memory
  per task is one member + one output batch — never the multi-GB fully-
  decompressed archive (the compressed file itself is already in memory,
  courtesy of binaryFile).
- output is ``PAGES_SCHEMA`` rows (url, warc_ts, html, text=None,
  lang=None) ready for :func:`manga_ocr_spark.jobs.extract.extract_pages`
  or an :class:`ExtractJob` — the same downstream path as table input.

Format notes (public spec, ISO 28500 / WARC 1.0-1.1):

- a WARC file is a sequence of records; `.warc.gz` stores each record as
  its own gzip member — members are simply concatenated.
- record = version line (``WARC/1.0``) + CRLF-delimited named header
  fields + CRLF CRLF + exactly ``Content-Length`` bytes of content +
  CRLF CRLF. LF-only line endings appear in the wild and are accepted
  (the EARLIEST of CRLFCRLF / LFLF terminates a header block — taking
  the first CRLFCRLF anywhere ahead would mis-frame LF-only records
  whose HTTP payload contains CRLF).
- only ``WARC-Type: response`` records carrying an HTTP payload
  (``Content-Type: application/http``) yield pages; the HTML body is the
  part of the HTTP message after its header block, de-chunked when
  ``Transfer-Encoding: chunked`` and decompressed when
  ``Content-Encoding: gzip/deflate`` (crawls store messages as
  received). ``resource``/``conversion`` records (e.g. WET) are yielded
  with their content as-is.
- corrupt gzip members, truncated tails, and structural garbage NEVER
  raise: everything parseable before the break is yielded (a single bad
  archive must not kill a Spark task).

Reference analogue: the directory-poll ingest of
/root/reference/manga_ocr/run.py:93-107 — here the "directory" is a
crawl segment listing and each file explodes into many work items.
"""

from __future__ import annotations

import datetime as dt
import re
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from manga_ocr_spark.extraction.pdf import _INFLATE_CAP

_GZIP_MAGIC = b"\x1f\x8b"
_BATCH_PAGES = 1024  # output RecordBatch flush thresholds
_BATCH_BYTES = 64 << 20


def _gunzip_member_iter(data: bytes) -> Iterator[bytes]:
    """One decompressed chunk per gzip member; a corrupt member (or one
    inflating past ``_INFLATE_CAP`` — a decompression bomb) ends the
    iteration with the bounded prefix instead of raising/ballooning."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data[pos:], _INFLATE_CAP)
        except zlib.error:
            return
        if chunk:
            yield chunk
        if d.unconsumed_tail:
            return  # member exceeded the expansion cap: bomb — stop here
        tail = d.unused_data
        if not tail:
            return
        newpos = n - len(tail)
        if newpos <= pos:
            return  # no forward progress: corrupt stream
        pos = newpos


def _find_blank_line(data: bytes, pos: int) -> tuple[int, int] | None:
    """(index, separator_len) of the EARLIEST header-block terminator at
    or after ``pos`` — CRLFCRLF or LFLF, whichever comes first."""
    a = data.find(b"\r\n\r\n", pos)
    b = data.find(b"\n\n", pos)
    if a == -1 and b == -1:
        return None
    if b == -1 or (a != -1 and a < b):
        return a, 4
    return b, 2


def _parse_records(data: bytes, final: bool):
    """Parse complete records from a buffer.

    Returns ``(records, consumed, dead)``: ``consumed`` is the offset the
    caller may discard up to; an incomplete trailing record is left
    unconsumed while ``final`` is False (more bytes may arrive);
    ``dead`` means structural garbage — stop feeding this stream.
    """
    records: list[tuple[dict[str, str], bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        while pos < n and data[pos] in (0x0D, 0x0A):  # inter-record CRLFs
            pos += 1
        if pos >= n:
            return records, n, False
        if not data.startswith(b"WARC/", pos):
            if not final and n - pos < 5:
                return records, pos, False  # maybe a split "WARC/" prefix
            return records, n, True  # garbage: desynced, stop
        term = _find_blank_line(data, pos)
        if term is None:
            return (records, n, False) if final else (records, pos, False)
        hdr_end, sep = term
        headers: dict[str, str] = {}
        lines = data[pos:hdr_end].decode("utf-8", "replace").splitlines()
        headers["warc-version"] = lines[0].strip()
        for line in lines[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return records, n, True
        if length < 0:
            # a negative length would make pos a FIXED POINT (infinite
            # loop re-parsing the same record); structurally dead
            return records, n, True
        body_start = hdr_end + sep
        if body_start + length > n:
            # incomplete: final -> truncated tail (drop); else wait
            return (records, n, False) if final else (records, pos, False)
        records.append((headers, data[body_start : body_start + length]))
        pos = body_start + length
    return records, n, False


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers, content) for each record of a WARC buffer
    (compressed or plain). Never raises; parses what is parseable."""
    if data[:2] == _GZIP_MAGIC:
        buf = bytearray()
        for chunk in _gunzip_member_iter(data):
            buf += chunk
            recs, consumed, dead = _parse_records(bytes(buf), final=False)
            yield from recs
            del buf[:consumed]
            if dead:
                return
        recs, _, _ = _parse_records(bytes(buf), final=True)
        yield from recs
    else:
        recs, _, _ = _parse_records(data, final=True)
        yield from recs


def _parse_warc_date(s: str) -> dt.datetime | None:
    """WARC-Date: ISO-8601 UTC (``2024-03-01T12:34:56Z``, optionally
    fractional seconds). Returns a naive UTC datetime (the engine's
    session timezone is UTC, matching jobs/extract's convention)."""
    try:
        s = s.strip()
        if s.endswith("Z"):
            s = s[:-1]
        if "." in s:
            s = s.split(".", 1)[0]
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S")
    except ValueError:
        return None


def _dechunk(body: bytes) -> bytes:
    """Reassemble a Transfer-Encoding: chunked HTTP body; on any framing
    surprise returns what was assembled so far (never raises)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        nl = body.find(b"\n", pos)
        if nl == -1:
            break
        size_tok = body[pos:nl].strip().split(b";")[0]
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size <= 0:
            # 0 = terminator; NEGATIVE hex parses ("-5") but would walk
            # pos backward into an infinite loop and slice garbage
            break
        start = nl + 1
        out += body[start : start + size]
        pos = start + size
        while pos < n and body[pos] in (0x0D, 0x0A):
            pos += 1
    return bytes(out)


def _http_body(content: bytes) -> bytes | None:
    """Body of an HTTP message block (response records wrap one):
    header split on the earliest blank line, de-chunked and
    content-decoded (gzip/deflate) as needed. None when the body cannot
    be recovered (unknown coding, corrupt compression)."""
    if not content.startswith(b"HTTP/"):
        return None
    term = _find_blank_line(content, 0)
    if term is None:
        return None
    end, sep = term
    head = content[:end].decode("latin-1", "replace").lower()
    body = content[end + sep :]
    headers: dict[str, str] = {}
    for line in head.splitlines()[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip()] = v.strip()
    if "chunked" in headers.get("transfer-encoding", ""):
        body = _dechunk(body)
    ce = headers.get("content-encoding", "").split(",")[0].strip()
    if ce in ("gzip", "x-gzip", "deflate"):
        for wbits in (47, -15):
            try:
                d = zlib.decompressobj(wbits)
                out = d.decompress(body, _INFLATE_CAP)
                if d.unconsumed_tail:
                    return None  # decompression bomb: drop the page
                body = out
                break
            except zlib.error:
                continue
        else:
            return None
    elif ce and ce != "identity":
        return None  # br/zstd/...: not decodable here
    return body


def warc_pages(data: bytes) -> Iterator[tuple[str, dt.datetime | None, bytes]]:
    """(url, warc_ts, html) for every page-bearing record of one file."""
    for headers, content in iter_warc_records(data):
        rtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = _parse_warc_date(headers.get("warc-date", ""))
        if rtype == "response" and headers.get("content-type", "").startswith(
            "application/http"
        ):
            body = _http_body(content)
            if body is not None:
                yield url, ts, body
        elif rtype == "resource" or (
            rtype == "conversion" and headers.get("content-type", "").startswith("text/")
        ):
            # WET-style conversions / raw resources: content IS the payload
            yield url, ts, content


def _page_batches(page_iter, lang: str | None):
    """Group (url, ts, html) tuples into Arrow RecordBatches bounded by
    _BATCH_PAGES / _BATCH_BYTES — bounds task memory on GB-scale files."""
    import pyarrow as pa

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA

    names = [f.name for f in PAGES_SCHEMA.fields]
    urls: list[str] = []
    tss: list[dt.datetime | None] = []
    htmls: list[bytes] = []
    nbytes = 0

    def flush():
        nonlocal urls, tss, htmls, nbytes
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(urls, pa.string()),
                pa.array(tss, pa.timestamp("us")),
                pa.array(htmls, pa.binary()),
                pa.array([None] * len(urls), pa.string()),
                pa.array([lang] * len(urls), pa.string()),
            ],
            names=names,
        )
        urls, tss, htmls, nbytes = [], [], [], 0
        return batch

    for url, ts, html in page_iter:
        urls.append(url)
        tss.append(ts)
        htmls.append(html)
        nbytes += len(html)
        if len(urls) >= _BATCH_PAGES or nbytes >= _BATCH_BYTES:
            yield flush()
    if urls:
        yield flush()


def pages_from_warc(spark: SparkSession, path: str, lang: str | None = None) -> DataFrame:
    """Read `.warc` / `.warc.gz` files under ``path`` into PAGES_SCHEMA.

    One Spark task per archive file (binaryFile source, see module
    docstring); records stream out of each archive member-by-member in
    bounded Arrow batches. ``text``/``lang`` stay NULL (``lang``
    optionally forced) — they are produced by extraction, not ingest.
    """
    files = spark.read.format("binaryFile").load(path).select("content")

    def explode(batches):
        for batch in batches:
            for v in batch.column("content"):
                payload = v.as_py()
                if payload:
                    yield from _page_batches(warc_pages(payload), lang)

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA

    return files.mapInArrow(explode, PAGES_SCHEMA)


def pages_from_warc_ranges(
    spark: SparkSession,
    index: DataFrame,
    lang: str | None = None,
) -> DataFrame:
    """Indexed WARC reads: intra-file parallelism from a CDX-style offset
    index — the actual Common-Crawl scale path (the crawl publishes
    ``cluster.idx``/CDX files with per-record ``(file, offset, length)``).

    ``index`` columns: ``path`` (string), ``offset`` (long), ``length``
    (long). Each row is one independent read: because `.warc.gz` stores
    every record as its OWN gzip member, any member-aligned byte range
    decompresses standalone — this is what makes a 1 GB segment file
    splittable across tasks, where :func:`pages_from_warc` is limited to
    one task per file. Ranges may span several records (CDX "blocks").

    The range read goes through ``pyarrow.fs`` resolved per worker from
    the path, so local paths and any pyarrow-supported DFS (HDFS, S3)
    work unchanged. Partition the index (``index.repartition(n)``) to set
    the task granularity; each partition is then sorted by (path, offset)
    — a NARROW per-partition sort, no shuffle — so every task reads
    roughly-sequential byte spans and the per-path filesystem/resolution
    memoization hits maximally.
    """

    def read_ranges(batches):
        from pyarrow import fs as pafs

        # Two caches so from_uri (which CONSTRUCTS an S3/HDFS client) runs
        # once per distinct archive path, not once per record range:
        # `filesystems` holds one client per scheme://authority (one per
        # cluster/bucket), `resolved_paths` memoizes the from_uri path
        # resolution per full URI (ranges are sorted by path within
        # partitions, so a task sees few distinct paths and MANY ranges
        # per path). The resolved path must come from from_uri — a naive
        # scheme-split would keep the URI authority glued onto the path
        # (breaking authority-bearing DFS) and would skip from_uri's
        # percent-decoding.
        filesystems: dict[str, object] = {}
        resolved_paths: dict[str, tuple[str, str]] = {}

        def open_range(path: str, offset: int, length: int) -> bytes:
            if "://" in path:
                hit = resolved_paths.get(path)
                if hit is None:
                    key_m = re.match(r"^([a-z0-9+.-]+://[^/]*)", path, re.I)
                    key = key_m.group(1) if key_m else path
                    fs_new, resolved = pafs.FileSystem.from_uri(path)
                    # keep the FIRST client built for this authority; a
                    # later from_uri for a sibling path reuses it
                    filesystems.setdefault(key, fs_new)
                    if len(resolved_paths) >= 65536:  # bound task memory
                        resolved_paths.clear()
                    resolved_paths[path] = (key, resolved)
                else:
                    key, resolved = hit
                filesystem = filesystems[key]
            else:
                filesystem = filesystems.get("file")
                if filesystem is None:
                    filesystem = pafs.LocalFileSystem()
                    filesystems["file"] = filesystem
                resolved = path
            with filesystem.open_input_file(resolved) as f:
                f.seek(offset)
                return f.read(length)

        def pages():
            for batch in batches:
                for path, offset, length in zip(
                    batch.column("path").to_pylist(),
                    batch.column("offset").to_pylist(),
                    batch.column("length").to_pylist(),
                ):
                    try:
                        buf = open_range(path, offset, length)
                    except (OSError, ValueError):
                        # bad index row: skip, don't kill the task.
                        # ValueError covers pyarrow's ArrowInvalid (its
                        # MRO is ArrowInvalid -> ValueError), which
                        # from_uri raises for malformed/unknown-scheme
                        # URIs — an OSError-only catch let one bogus CDX
                        # row fail the whole job
                        continue
                    yield from warc_pages(buf)

        yield from _page_batches(pages(), lang)

    from manga_ocr_spark.jobs.extract import PAGES_SCHEMA

    index = index.select("path", "offset", "length").sortWithinPartitions("path", "offset")
    return index.mapInArrow(read_ranges, PAGES_SCHEMA)
