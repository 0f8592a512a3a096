"""WARC (Web ARChive, ISO 28500) segment writer + distributed reader.

Common Crawl ships its corpus as WARC files: a sequence of records,
each individually gzip-compressed (multi-member gzip), each record a
WARC header block, a blank line, the record body, and two trailing
CRLFs. The reference pipeline (`/root/reference` scrapers) consumes
already-rendered page text; at the north rule's 10^12-document scale
the real ingest surface is the raw WARC segment, so this module
implements both directions Spark-first:

* ``synth_warc_segment`` — a faithful WARC/1.0 writer (warcinfo +
  request + response records, per-record gzip members, exact
  Content-Length bookkeeping) used to plant payloads for the
  round-trip oracle, following the same planted-payload pattern as
  the multimodal PNG/BMP/GIF codecs (multimodal.py).
* ``parse_warc`` — mapInPandas over segment blobs: walks the gzip
  members with a streaming ``zlib.decompressobj`` (never inflating
  the whole file at once), parses WARC headers case-insensitively,
  keeps ``WARC-Type: response`` records, strips the HTTP/1.1
  envelope, and emits one row per page
  (url, ts_epoch, status, payload bytes).

Scale notes. The segment is the unit of parallelism (Common Crawl:
~1 GB gzip each); a 10^12-page crawl is ~10^8 segments and the reader
is embarrassingly parallel over them with zero shuffle — one
mapInPandas pass, no Python-side state across rows. Per-record gzip
members are what make this possible: a reader can start at any member
boundary, which is how CC's own index (CDX) addresses records.
Malformed members/records are quarantined (counted, skipped), never
task-fatal, per the same error contract the image decoders follow.
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "synth_warc_segment",
    "documents_as_warc",
    "parse_warc_bytes",
    "parse_warc",
]

_CRLF = b"\r\n"
_WARC_EPOCH = 1_600_000_000  # fixed planting epoch (2020-09-13T12:26:40Z)


def _gzip_member(raw: bytes) -> bytes:
    """One complete gzip member (RFC 1952) for one WARC record."""
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(raw) + co.flush()


def _iso(ts_epoch: int) -> str:
    """UTC ISO-8601 with Z suffix, no tz library involved."""
    days, rem = divmod(int(ts_epoch), 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    # civil-from-days (Howard Hinnant's algorithm), pure integer math
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    mo = mp + 3 if mp < 10 else mp - 9
    y = y + (1 if mo <= 2 else 0)
    return f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{m:02d}:{s:02d}Z"


def _from_iso(s: str) -> int:
    """Inverse of _iso — epoch seconds from YYYY-MM-DDTHH:MM:SSZ."""
    y, mo, d = int(s[0:4]), int(s[5:7]), int(s[8:10])
    h, mi, sec = int(s[11:13]), int(s[14:16]), int(s[17:19])
    y2 = y - (1 if mo <= 2 else 0)
    era = y2 // 400
    yoe = y2 - era * 400
    mp = mo - 3 if mo >= 3 else mo + 9
    doy = (153 * mp + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    days = era * 146097 + doe - 719468
    return days * 86400 + h * 3600 + mi * 60 + sec


def _record(warc_type: str, headers: list[tuple[str, str]],
            body: bytes) -> bytes:
    head = [b"WARC/1.0",
            b"WARC-Type: " + warc_type.encode()]
    head += [k.encode() + b": " + v.encode() for k, v in headers]
    head.append(b"Content-Length: " + str(len(body)).encode())
    raw = _CRLF.join(head) + _CRLF + _CRLF + body + _CRLF + _CRLF
    return _gzip_member(raw)


def _rec_id(url: str, kind: str) -> str:
    h = hashlib.md5((kind + "|" + url).encode()).hexdigest()
    return (f"<urn:uuid:{h[0:8]}-{h[8:12]}-{h[12:16]}-"
            f"{h[16:20]}-{h[20:32]}>")


def synth_warc_segment(rows: list[tuple[str, int, bytes]],
                       segment_id: int = 0) -> bytes:
    """Serialize (url, ts_epoch, body) rows as one CC-style WARC file:
    a warcinfo record, then a request+response pair per page, each
    record its own gzip member."""
    date0 = _iso(_WARC_EPOCH)
    info = (b"software: askg-spark-synth/1.0\r\n"
            b"format: WARC File Format 1.0\r\n")
    out = [_record("warcinfo",
                   [("WARC-Date", date0),
                    ("WARC-Record-ID", _rec_id(str(segment_id), "info")),
                    ("Content-Type", "application/warc-fields")],
                   info)]
    for url, ts_epoch, body in rows:
        date = _iso(ts_epoch)
        req = (b"GET / HTTP/1.1\r\nHost: example.org\r\n"
               b"User-Agent: askg-spark\r\n\r\n")
        out.append(_record(
            "request",
            [("WARC-Date", date), ("WARC-Target-URI", url),
             ("WARC-Record-ID", _rec_id(url, "req")),
             ("Content-Type", "application/http; msgtype=request")],
            req))
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=UTF-8\r\n"
                b"Content-Length: " + str(len(body)).encode() +
                b"\r\n\r\n" + body)
        out.append(_record(
            "response",
            [("WARC-Date", date), ("WARC-Target-URI", url),
             ("WARC-Record-ID", _rec_id(url, "resp")),
             ("Content-Type", "application/http; msgtype=response")],
            http))
    return b"".join(out)


def _members(blob: bytes) -> Iterator[bytes]:
    """Yield decompressed gzip members from a multi-member blob.

    Streaming: each member is inflated independently via
    decompressobj; `unused_data` hands us the start of the next
    member without re-scanning. A corrupt member stops the walk for
    this blob (there is no reliable resync point inside deflate
    data), surfacing whatever parsed before it."""
    buf = blob
    while buf[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            raw = d.decompress(buf)
            raw += d.flush()
        except zlib.error:
            return
        yield raw
        buf = d.unused_data


def parse_warc_bytes(blob: bytes) -> Iterator[tuple[str, int, int, bytes]]:
    """Yield (url, ts_epoch, http_status, payload) from one WARC blob.

    Accepts per-record-gzip (CC convention) or plain concatenated
    records. Non-response records (warcinfo, request, metadata) are
    skipped; response records missing a parsable HTTP envelope are
    quarantined (skipped) rather than raising."""
    if blob[:2] == b"\x1f\x8b":
        records = _members(blob)
    else:
        records = _split_plain(blob)
    for raw in records:
        parsed = _parse_record(raw)
        if parsed is not None:
            yield parsed


def _split_plain(blob: bytes) -> Iterator[bytes]:
    """Split an uncompressed WARC stream on record boundaries using
    each record's own Content-Length (record payloads may contain
    'WARC/1.0' literally, so scanning for the magic is wrong)."""
    pos = 0
    n = len(blob)
    while pos < n and blob.startswith(b"WARC/", pos):
        hdr_end = blob.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            return
        clen = _content_length(blob[pos:hdr_end])
        if clen is None:
            return
        end = hdr_end + 4 + clen + 4  # body + two CRLFs
        yield blob[pos:end]
        pos = end


def _content_length(header_block: bytes) -> int | None:
    for line in header_block.split(_CRLF):
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-length":
            try:
                return int(v.strip())
            except ValueError:
                return None
    return None


def _parse_record(raw: bytes) -> tuple[str, int, int, bytes] | None:
    if not raw.startswith(b"WARC/"):
        return None
    hdr_end = raw.find(_CRLF + _CRLF)
    if hdr_end < 0:
        return None
    headers: dict[bytes, bytes] = {}
    for line in raw[:hdr_end].split(_CRLF)[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower()] = v.strip()
    if headers.get(b"warc-type") != b"response":
        return None
    clen = _content_length(raw[:hdr_end])
    if clen is None:
        return None
    body = raw[hdr_end + 4:hdr_end + 4 + clen]
    # HTTP envelope: status line, headers, blank line, payload
    if not body.startswith(b"HTTP/"):
        return None
    http_end = body.find(_CRLF + _CRLF)
    if http_end < 0:
        return None
    status_line = body[:body.find(_CRLF)]
    parts = status_line.split(b" ")
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None
    payload_len = _content_length(body[:http_end])
    payload = body[http_end + 4:]
    if payload_len is not None:
        payload = payload[:payload_len]
    url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
    date = headers.get(b"warc-date", b"").decode("ascii", "replace")
    try:
        ts = _from_iso(date)
    except (ValueError, IndexError):
        ts = 0
    return url, ts, status, payload


# ------------------------------------------------------------- Spark side

def documents_as_warc(docs: DataFrame, n_segments: int = 32) -> DataFrame:
    """Plant the documents table as CC-style WARC segments:
    (segment:int, warc:binary), one blob per segment.

    Deterministic: segment = doc_id % n_segments, rows serialized in
    doc_id order, url/ts derived arithmetically from the row — so the
    round-trip oracle can recompute every output column in SQL."""
    src = docs.select(
        (F.col("doc_id") % n_segments).cast("int").alias("segment"),
        F.col("doc_id"),
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.lit(_WARC_EPOCH) + F.col("doc_id") % 86400).alias("ts_epoch"),
        F.col("text"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        seg = int(pdf["segment"].iloc[0])
        rows = [(u, int(t), x.encode("utf-8"))
                for u, t, x in zip(pdf["url"], pdf["ts_epoch"], pdf["text"])]
        return pd.DataFrame(
            {"segment": [seg],
             "warc": [synth_warc_segment(rows, segment_id=seg)]})

    return src.groupBy("segment").applyInPandas(
        build, schema="segment int, warc binary")


def parse_warc(df: DataFrame) -> DataFrame:
    """Distributed WARC reader: one row per response record of the
    ``warc`` blob column.

    Zero shuffle — segments map independently; this is the plan shape
    that holds at 10^8 segments (each task streams its blobs' gzip
    members, memory bounded by one record at a time)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, sts, payloads = [], [], [], []
            for blob in pdf["warc"]:
                if blob is None:
                    continue
                for url, ts, status, payload in parse_warc_bytes(bytes(blob)):
                    urls.append(url)
                    tss.append(ts)
                    sts.append(status)
                    payloads.append(payload)
            yield pd.DataFrame({"url": urls, "ts_epoch": tss,
                                "status": sts, "payload": payloads})

    return df.mapInPandas(
        run, schema="url string, ts_epoch bigint, status int, "
                    "payload binary")


# ------------------------------------------------------------- CDX index

def _members_with_offsets(blob: bytes):
    """Yield (raw_record, offset, comp_length) per gzip member — the
    byte geometry CC's CDX index stores so a reader can fetch ONE
    record with a ranged GET instead of scanning the segment."""
    pos = 0
    n = len(blob)
    mv = memoryview(blob)  # zero-copy tail slices — a bytes slice per
    # member would make the walk O(members x segment) memcpy
    while pos < n and blob[pos:pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            raw = d.decompress(mv[pos:]) + d.flush()
        except zlib.error:
            return
        end = n - len(d.unused_data)
        yield raw, pos, end - pos
        pos = end


def cdx_records(segments: DataFrame) -> DataFrame:
    """CDX-style index rows for every response record of the ``warc``
    blob column:
    (url, ts_epoch, offset, comp_len, cdx_ok).

    ``cdx_ok`` certifies the random-access contract IN-ENGINE: the
    indexed byte range is re-sliced out of the segment and re-parsed
    standalone; it must yield the same url and an identical payload.
    At archive scale this is the index consumers trust for ranged
    GETs — an off-by-one in the offsets corrupts every fetch, so the
    certification slices for real rather than trusting the walk.
    One mapInPandas pass, zero shuffle."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in
                    ("url", "ts_epoch", "offset", "comp_len", "cdx_ok")}
            for blob in pdf["warc"]:
                if blob is None:
                    continue
                blob = bytes(blob)
                for raw, off, clen in _members_with_offsets(blob):
                    rec = _parse_record(raw)
                    if rec is None:
                        continue
                    url, ts, _status, payload = rec
                    # the certification: ranged re-fetch + re-parse
                    sliced = list(parse_warc_bytes(blob[off:off + clen]))
                    ok = int(len(sliced) == 1
                             and sliced[0][0] == url
                             and sliced[0][3] == payload)
                    cols["url"].append(url)
                    cols["ts_epoch"].append(ts)
                    cols["offset"].append(off)
                    cols["comp_len"].append(clen)
                    cols["cdx_ok"].append(ok)
            yield pd.DataFrame(cols)

    return segments.mapInPandas(
        run, schema="url string, ts_epoch bigint, offset bigint, "
                    "comp_len bigint, cdx_ok int")
