"""Native WARC/1.0 source connector (the Common-Crawl container format).

The reference fetches document blobs from object storage one file at a time
(``rag/svr/task_executor.py:217-240`` STORAGE_IMPL.get); a Common-Crawl-style
corpus arrives instead as WARC files (ISO 28500): a sequence of records,
each its own gzip member, where ``response`` records wrap an HTTP/1.1
response whose body is the page html.  This module implements the container
natively — stdlib ``gzip``/``zlib`` only — with

  * a deterministic writer (``build_response_record`` / ``build_warc_gz``)
    used to synthesize test corpora from ``documents.parquet``, and
  * a streaming parser (``iter_warc_records``) run Spark-side via
    ``mapInPandas`` to turn WARC files into the ``pages`` table shape.

Scale design (10^12 pages): one WARC file (~1 GB gzipped in Common Crawl)
is one input row / one task; gzip members force sequential parsing WITHIN a
file but files parse embarrassingly parallel ACROSS the fleet — exactly how
CC-MAIN jobs shard.  The parser walks one gzip member at a time via
``zlib.decompressobj(...).unused_data`` so it never holds more than one
record's payload; malformed records yield an ``error`` row, never a task
abort.  On a real cluster the file list comes from a
``spark.read.format("binaryFile")`` scan (or an Iceberg manifest of blob
pointers); here the files themselves are synthesized deterministically.
"""

from __future__ import annotations

import gzip
import zlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..datagen.pages import PAGES_SCHEMA, document_page
from ..session import documents_scan

_CRLF = b"\r\n"
_EPOCH = pd.Timestamp("2024-01-01")


def _warc_date(ts: pd.Timestamp) -> str:
    # WARC 1.1 allows fractional seconds; keep microseconds for parity with
    # the generator's microsecond-resolution warc_ts.
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _parse_warc_date(s: str) -> pd.Timestamp:
    return pd.Timestamp(s.rstrip("Z"))


def build_response_record(url: str, ts: pd.Timestamp, html: bytes,
                          status: int = 200,
                          content_type: str = "text/html") -> bytes:
    """One WARC/1.0 ``response`` record wrapping an HTTP/1.1 response."""
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(html)}\r\n\r\n").encode("ascii") + html
    head = (f"WARC/1.0\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {_warc_date(ts)}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n").encode("ascii")
    return head + http + _CRLF + _CRLF


def build_conversion_record(url: str, ts: pd.Timestamp, text: str) -> bytes:
    """One WARC ``conversion`` record — the WET convention: extracted plain
    text of a response record, utf-8, ``Content-Type: text/plain``."""
    body = text.encode("utf-8")
    head = (f"WARC/1.0\r\n"
            f"WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {_warc_date(ts)}\r\n"
            f"Content-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("ascii")
    return head + body + _CRLF + _CRLF


_REVISIT_PROFILE = ("http://netpreserve.org/warc/1.0/revisit/"
                    "identical-payload-digest")


def build_revisit_record(url: str, ts: pd.Timestamp, refers_to_uri: str,
                         refers_to_date: pd.Timestamp,
                         payload_digest: str,
                         status: int = 200,
                         content_type: str = "text/html") -> bytes:
    """One WARC ``revisit`` record (WARC 1.1 §6.7.2, the Common-Crawl
    crawl-time dedup convention): a re-fetch whose payload matched an
    earlier capture's digest stores only the HTTP response HEADERS plus a
    pointer (`WARC-Refers-To-Target-URI`/`-Date`) and the shared
    `WARC-Payload-Digest` — the body lives once, in the referred-to
    ``response`` record."""
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n\r\n").encode("ascii")
    head = (f"WARC/1.0\r\n"
            f"WARC-Type: revisit\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {_warc_date(ts)}\r\n"
            f"WARC-Profile: {_REVISIT_PROFILE}\r\n"
            f"WARC-Refers-To-Target-URI: {refers_to_uri}\r\n"
            f"WARC-Refers-To-Date: {_warc_date(refers_to_date)}\r\n"
            f"WARC-Payload-Digest: sha1:{payload_digest}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n").encode("ascii")
    return head + http + _CRLF + _CRLF


def build_warcinfo(filename: str) -> bytes:
    body = b"software: ragflow_core16_spark\r\nformat: WARC File Format 1.0\r\n"
    head = (f"WARC/1.0\r\n"
            f"WARC-Type: warcinfo\r\n"
            f"WARC-Filename: {filename}\r\n"
            f"WARC-Date: {_warc_date(_EPOCH)}\r\n"
            f"Content-Type: application/warc-fields\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("ascii")
    return head + body + _CRLF + _CRLF


def build_warc_gz(records: list[bytes]) -> bytes:
    """Concatenated per-record gzip members (the Common Crawl convention:
    record offsets in the CDX index point at member starts).  mtime=0 keeps
    the bytes a pure function of the records."""
    return b"".join(gzip.compress(r, mtime=0) for r in records)


def _iter_members(data: bytes):
    """Yield ``(member_bytes, error, offset, comp_len)`` one gzip member at
    a time (streaming: at most one member's bytes live at once), where
    ``offset``/``comp_len`` locate the COMPRESSED member inside ``data`` —
    the (offset, length) pair a CDX index records for random access.
    Non-gzip input is one plain 'member'.  A corrupt member yields an error
    tuple and STOPS — a damaged deflate stream cannot be resynced reliably —
    but never raises: one bad file region must cost its tail, not the whole
    task."""
    if data[:2] != b"\x1f\x8b":
        yield bytes(data), None, 0, len(data)
        return
    rest = bytes(data)
    pos = 0
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            member = d.decompress(rest)
        except zlib.error as e:
            yield b"", f"gzip member corrupt: {e}", pos, len(rest)
            return
        comp_len = len(rest) - len(d.unused_data)
        yield member, None, pos, comp_len
        pos += comp_len
        rest = d.unused_data
    if rest:
        yield rest, None, pos, len(rest)  # trailing plain bytes: surface


_NO_POINTERS = {"profile": None, "refers_to_uri": None,
                "refers_to_date": None, "payload_digest": None}


def _parse_headers(block: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.decode("ascii", "replace").strip().lower()] = \
                v.decode("ascii", "replace").strip()
    return out


def iter_warc_records(data: bytes):
    """Parse a WARC file (plain or member-gzip).  Yields one dict per
    record: ``{type, url, ts, http_status, content_type, payload, error}``.
    A record that fails to frame yields ``type='error'`` and parsing moves
    to the next gzip member (one bad record must not kill the file)."""
    for member, merr, _off, _clen in _iter_members(data):
        if merr is not None:
            yield {"type": "error", "url": None, "ts": None,
                   "http_status": None, "content_type": None,
                   "payload": None, "error": merr, **_NO_POINTERS}
            continue
        off = 0
        while off < len(member):
            # skip inter-record blank lines
            while member[off:off + 2] == _CRLF:
                off += 2
            if off >= len(member):
                break
            try:
                hdr_end = member.index(_CRLF + _CRLF, off)
            except ValueError:
                yield {"type": "error", "url": None, "ts": None,
                       "http_status": None, "content_type": None,
                       "payload": None, "error": "unterminated header",
                       **_NO_POINTERS}
                break
            head = member[off:hdr_end]
            if not head.startswith(b"WARC/"):
                yield {"type": "error", "url": None, "ts": None,
                       "http_status": None, "content_type": None,
                       "payload": None, "error": "bad magic",
                       **_NO_POINTERS}
                break
            h = _parse_headers(head)
            try:
                clen = int(h.get("content-length", ""))
            except ValueError:
                yield {"type": "error", "url": h.get("warc-target-uri"),
                       "ts": None, "http_status": None, "content_type": None,
                       "payload": None, "error": "bad content-length",
                       **_NO_POINTERS}
                break
            block = member[hdr_end + 4:hdr_end + 4 + clen]
            off = hdr_end + 4 + clen
            rtype = h.get("warc-type", "")
            url = h.get("warc-target-uri")
            try:
                ts = _parse_warc_date(h.get("warc-date", ""))
            except ValueError:
                ts = None
            # revisit pointer headers (WARC 1.1 §6.7.2) — None off revisits
            extra = {"profile": h.get("warc-profile"),
                     "refers_to_uri": h.get("warc-refers-to-target-uri"),
                     "refers_to_date": h.get("warc-refers-to-date"),
                     "payload_digest": h.get("warc-payload-digest")}
            if rtype != "response":
                # revisit / conversion (WET) / warcinfo / …: the block IS
                # the payload (for revisit: the stored HTTP headers)
                yield {"type": rtype, "url": url, "ts": ts,
                       "http_status": None,
                       "content_type": h.get("content-type"),
                       "payload": block, "error": None, **extra}
                continue
            status, ctype, payload, err = None, None, None, None
            try:
                he = block.index(_CRLF + _CRLF)
                status_line = block[:block.index(_CRLF)]
                status = int(status_line.split(b" ")[1])
                hh = _parse_headers(block[:he])
                ctype = hh.get("content-type")
                payload = block[he + 4:]
                want = hh.get("content-length")
                if want is not None and len(payload) != int(want):
                    err = "http length mismatch"
            except (ValueError, IndexError):
                err = "bad http framing"
            yield {"type": "response", "url": url, "ts": ts,
                   "http_status": status, "content_type": ctype,
                   "payload": payload, "error": err, **extra}


# ------------------------------------------------------------- Spark side

N_FILES = 32  # synthetic shard count; oracle replays file_id = doc_id % 32

WARC_FILES_SCHEMA = StructType([
    StructField("file_id", IntegerType(), False),
    StructField("n_records", IntegerType(), False),
    StructField("data", BinaryType(), False),
])

WARC_RECORDS_SCHEMA = StructType([
    StructField("file_id", IntegerType(), False),
    StructField("rec_seq", IntegerType(), False),
    StructField("url", StringType(), True),
    StructField("ts_micros", LongType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("content_type", StringType(), True),
    StructField("payload_len", LongType(), True),
])


def warc_files_from_documents(spark: SparkSession, sf_dir: str,
                              seed: int = 42,
                              n_files: int = N_FILES,
                              revisits: bool = False) -> DataFrame:
    """Synthesize a deterministic WARC corpus: documents sharded into
    ``n_files`` files (``file_id = doc_id % n_files``), records in doc_id
    order, pages byte-identical to ``pages_from_documents``.  One groupBy
    shuffle keyed on file_id — the build is write-path tooling, the read
    path (``pages_from_warc``) is the operator under test.

    With ``revisits=True``, docs where md5i(seed:rv:doc) % 4 == 0 gain a
    second capture one day later stored as a ``revisit`` record (appended
    after the shard's responses — a later crawl pass).  Its recorded
    payload digest is the true sha1-b32 of the original payload, EXCEPT
    where md5i(seed:rvbad:doc) % 7 == 0: those record a digest of
    payload+'X' (content drifted between the dedup decision and storage),
    so digest verification has both outcomes to find."""
    docs = (documents_scan(spark, sf_dir)
            .select("doc_id", "text")
            .withColumn("file_id", (F.col("doc_id") % n_files).cast("int")))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..datagen.pages import _md5i
        from .cdx import sha1_b32
        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])
        recs = [build_warcinfo(f"crawl-{fid:05d}.warc.gz")]
        revs = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            url, ts, html = document_page(int(doc_id), text, seed)
            recs.append(build_response_record(url, ts, html))
            if revisits and _md5i(f"{seed}:rv:{int(doc_id)}") % 4 == 0:
                bad = _md5i(f"{seed}:rvbad:{int(doc_id)}") % 7 == 0
                digest = sha1_b32(html + b"X" if bad else html)
                revs.append(build_revisit_record(
                    url, ts + pd.Timedelta(days=1), url, ts, digest))
        recs.extend(revs)
        return pd.DataFrame([(fid, len(recs) - 1, build_warc_gz(recs))],
                            columns=["file_id", "n_records", "data"])

    return docs.groupBy("file_id").applyInPandas(build, WARC_FILES_SCHEMA)


def warc_records_df(files: DataFrame) -> DataFrame:
    """Record-level parse: framing fields per response record.  ts_micros is
    re-derived from the parsed WARC-Date string (proves the header was read,
    not passed through)."""
    def parse(batches):
        for pdf in batches:
            out = []
            for fid, data in zip(pdf["file_id"], pdf["data"]):
                seq = 0
                for r in iter_warc_records(bytes(data)):
                    if r["type"] != "response":
                        continue
                    tsm = (None if r["ts"] is None else
                           (r["ts"] - _EPOCH) // pd.Timedelta(microseconds=1))
                    out.append((int(fid), seq, r["url"], tsm,
                                r["http_status"], r["content_type"],
                                None if r["payload"] is None
                                else len(r["payload"])))
                    seq += 1
            yield pd.DataFrame(out, columns=[f.name for f in
                                             WARC_RECORDS_SCHEMA.fields])

    return files.mapInPandas(parse, WARC_RECORDS_SCHEMA)


CAPTURE_RECORDS_SCHEMA = StructType([
    StructField("kind", StringType(), False),
    StructField("url", StringType(), True),
    StructField("ts_micros", LongType(), True),
    StructField("payload_sha1b32", StringType(), True),
    StructField("recorded_digest", StringType(), True),
    StructField("refers_to_uri", StringType(), True),
    StructField("refers_to_ts_micros", LongType(), True),
])


def capture_records_df(files: DataFrame) -> DataFrame:
    """Every capture record (``response`` AND ``revisit``) with the fields
    revisit resolution needs: responses carry the sha1-b32 digest computed
    from their actual payload bytes; revisits carry the pointer headers and
    the digest the crawler RECORDED (``sha1:`` prefix stripped).  Records
    whose FRAMING failed (bad magic / content-length / truncated header)
    surface as ``kind='error'`` rows — a corrupted shard must show up in
    the capture census, not silently shrink it."""
    from .cdx import sha1_b32

    def _micros(ts):
        return (None if ts is None else
                (ts - _EPOCH) // pd.Timedelta(microseconds=1))

    def parse(batches):
        for pdf in batches:
            out = []
            for data in pdf["data"]:
                for r in iter_warc_records(bytes(data)):
                    if r["type"] == "response" and r["error"] is None:
                        out.append(("response", r["url"], _micros(r["ts"]),
                                    sha1_b32(r["payload"]), None, None,
                                    None))
                    elif r["type"] == "error" or r["error"] is not None:
                        out.append(("error", r["url"], _micros(r["ts"]),
                                    None, None, None, None))
                    elif r["type"] == "revisit":
                        rec = r.get("payload_digest") or ""
                        rts = None
                        if r.get("refers_to_date"):
                            try:
                                rts = _micros(
                                    _parse_warc_date(r["refers_to_date"]))
                            except ValueError:
                                pass
                        out.append(("revisit", r["url"], _micros(r["ts"]),
                                    None, rec.removeprefix("sha1:"),
                                    r.get("refers_to_uri"), rts))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             CAPTURE_RECORDS_SCHEMA.fields])

    return files.mapInPandas(parse, CAPTURE_RECORDS_SCHEMA)


def resolve_revisits(files: DataFrame) -> DataFrame:
    """Hydrate ``revisit`` records against their referred-to ``response``
    captures and VERIFY the recorded payload digest against a digest
    computed from the original's actual bytes — the consumer-side
    completion of crawl-time dedup (a WARC reader that skips this join
    silently loses every deduplicated capture).

    Scale: one equi-join keyed (uri, ts) — revisits are a minority side
    (CC revisit rates are 10-40%), responses arrive already keyed by the
    parse; no window, no skew key (urls are unique per capture).  The
    container parse feeds BOTH join sides, so it is lazily
    local-checkpointed — one Python parse pass, not one per side (at
    deployment the parse output is a materialized table anyway)."""
    recs = capture_records_df(files).localCheckpoint(eager=False)
    orig = (recs.filter(F.col("kind") == "response")
            .select(F.col("url").alias("o_url"),
                    F.col("ts_micros").alias("o_ts"),
                    "payload_sha1b32"))
    rev = (recs.filter(F.col("kind") == "revisit")
           .select("url", "ts_micros", "recorded_digest",
                   "refers_to_uri", "refers_to_ts_micros"))
    # LEFT join: a revisit whose referred-to response is missing from the
    # shard set (or failed to parse) must still surface — silently
    # dropping it is exactly the capture loss this operator exists to
    # prevent.  Orphans emit orig_found=false, digest_match=false.
    return (rev.join(orig, (rev["refers_to_uri"] == orig["o_url"])
                     & (rev["refers_to_ts_micros"] == orig["o_ts"]),
                     "left")
            .select("url", "ts_micros",
                    F.col("refers_to_ts_micros").alias("orig_ts_micros"),
                    F.col("payload_sha1b32").isNotNull()
                    .alias("orig_found"),
                    F.coalesce(F.col("recorded_digest")
                               == F.col("payload_sha1b32"), F.lit(False))
                    .alias("digest_match")))


WET_TEXT_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("ts_micros", LongType(), True),
    StructField("wet_text", StringType(), True),
])


def wet_files_from_extracted(extracted: DataFrame,
                             n_files: int = N_FILES,
                             prefix: str = "wet") -> DataFrame:
    """Extraction output → WET shard files (the Common-Crawl *.warc.wet.gz
    convention): one ``conversion`` record per successfully-extracted page
    carrying its plain text, one gzip member per record.  Sharding is
    ``crc32(url) % n_files`` — deterministic and key-balanced; records are
    url-ordered within a shard so the file bytes are a pure function of the
    extraction output.  One keyed shuffle (the groupBy), then the member
    build streams a shard at a time."""
    rows = (extracted
            .where(F.col("status") == "ok")
            .select("url", "warc_ts", "extracted_text")
            .withColumn("file_id",
                        (F.crc32(F.col("url")) % n_files).cast("int")))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        fid = int(pdf["file_id"].iloc[0])
        recs = [build_warcinfo(f"{prefix}-{fid:05d}.warc.wet.gz")]
        for url, ts, text in zip(pdf["url"], pdf["warc_ts"],
                                 pdf["extracted_text"]):
            recs.append(build_conversion_record(url, ts, text or ""))
        return pd.DataFrame([(fid, len(recs) - 1, build_warc_gz(recs))],
                            columns=["file_id", "n_records", "data"])

    return rows.groupBy("file_id").applyInPandas(build, WARC_FILES_SCHEMA)


def text_from_wet(files: DataFrame) -> DataFrame:
    """WET files → (url, ts_micros, wet_text): the conversion-record read
    path.  ts_micros is re-derived from the parsed WARC-Date header string;
    the text block is the record payload verbatim (utf-8)."""
    def parse(batches):
        for pdf in batches:
            out = []
            for data in pdf["data"]:
                for r in iter_warc_records(bytes(data)):
                    if r["type"] != "conversion" or r["error"] is not None:
                        continue
                    tsm = (None if r["ts"] is None else
                           (r["ts"] - _EPOCH) // pd.Timedelta(microseconds=1))
                    out.append((r["url"], tsm,
                                r["payload"].decode("utf-8")))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             WET_TEXT_SCHEMA.fields])

    return files.mapInPandas(parse, WET_TEXT_SCHEMA)


def pages_from_warc_dir(spark: SparkSession, path: str,
                        glob: str = "*.warc.gz") -> DataFrame:
    """Crawl ingestion from a directory/bucket of WARC files via the
    binaryFile source: one file = one row = one task (the Common-Crawl
    sharding unit; CC-MAIN files are ~1 GB gzipped, so executor memory
    must cover one file per task — the standard sizing for WARC jobs).
    At larger file sizes, front with a manifest table of byte-range
    pointers instead."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob).load(path)
             .select(F.lit(0).cast("int").alias("file_id"),
                     F.lit(0).cast("int").alias("n_records"),
                     F.col("content").alias("data")))
    return pages_from_warc(files)


WET_MANIFEST_SCHEMA = StructType([
    StructField("file_id", IntegerType(), False),
    StructField("n_records", IntegerType(), False),
    StructField("path", StringType(), False),
    StructField("bytes", LongType(), False),
])


def write_wet_files(extracted: DataFrame, out_dir: str,
                    n_files: int = N_FILES,
                    prefix: str = "wet") -> DataFrame:
    """Materialize real ``*.warc.wet.gz`` shard files from extraction
    output and return the manifest (file_id, n_records, path, bytes).
    Each shard is written by the executor that assembled it — no driver
    funnel; ``out_dir`` must be a filesystem every executor can reach
    (shared FS locally, a fuse/NFS mount or posix-mapped object store on
    a cluster — an HDFS/S3A deployment would swap the open() for the
    Hadoop FS API at this one seam)."""
    import os

    wet = wet_files_from_extracted(extracted, n_files, prefix)

    def dump(batches):
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            rows = []
            for fid, n, data in zip(pdf["file_id"], pdf["n_records"],
                                    pdf["data"]):
                p = os.path.join(out_dir,
                                 f"{prefix}-{int(fid):05d}.warc.wet.gz")
                tmp = p + ".inprogress"
                with open(tmp, "wb") as f:
                    f.write(bytes(data))
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, p)          # atomic publish per shard
                rows.append((int(fid), int(n), p, len(data)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              WET_MANIFEST_SCHEMA.fields])

    return wet.mapInPandas(dump, WET_MANIFEST_SCHEMA)


def pages_from_warc(files: DataFrame) -> DataFrame:
    """WARC files → the ``pages`` table shape (url, warc_ts, html, text,
    lang).  text/lang are NULL — a crawl carries neither; downstream
    extraction derives them.  Non-response and errored records are dropped
    here (the record-level view above surfaces them)."""
    def parse(batches):
        for pdf in batches:
            out = []
            for data in pdf["data"]:
                for r in iter_warc_records(bytes(data)):
                    if r["type"] != "response" or r["error"] is not None:
                        continue
                    out.append((r["url"], r["ts"], r["payload"], None, None))
            yield pd.DataFrame(out, columns=["url", "warc_ts", "html",
                                             "text", "lang"])

    return files.mapInPandas(parse, PAGES_SCHEMA)
