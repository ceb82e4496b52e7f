"""WARC (Web ARChive, ISO 28500) ingestion — the wire format of
web-crawl corpora (Common Crawl et al.), which is what a 100 TB text
pipeline actually starts from.

Spark has no WARC data source, so this follows the multimodal
doctrine: ``binaryFile`` scan → Arrow-batched ``mapInPandas`` record
splitter, pure stdlib (``gzip`` handles the per-record-gzip-member
layout crawls ship — Python's decompressor consumes concatenated
members). The parse degrades per FILE like every mixed-corpus stage
here: a malformed file yields one ``warc_type='corrupt'`` row carrying
the error instead of failing the batch, and each successfully parsed
record is independent.

Scale contract, stated plainly: ``binaryFile`` materializes one whole
file per task, so parallelism = number of files and each executor
needs headroom for one decompressed segment (crawl WARCs are ~1 GB
compressed — size executor memory accordingly, or pre-split oversized
segments). Record payloads never leave the task as anything but the
rows you project; run ``warc_responses`` + ``.select`` early so only
the text you keep rides the shuffle.

Ingestion doctrine parity with csv/jsonl sources: explicit output
schema, malformed input becomes observable rows, one parse per file.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_SCHEMA = (
    "file string, record_idx int, warc_type string, url string, "
    "warc_date string, record_id string, content_type string, "
    "payload binary, error string"
)

_CRLF2 = b"\r\n\r\n"

# budget for undoing HTTP Content-Encoding on one response body —
# allocation-bounded via bounded_inflate, same posture as the codecs
MAX_BODY_BYTES = 64 * 1024 * 1024


def _parse_warc_bytes(raw: bytes):
    """Yield (warc_type, url, date, record_id, content_type, payload)
    per record. Raises ValueError on structural nonsense — the caller
    converts that into a corrupt row for the file."""
    if raw[:2] == b"\x1f\x8b":  # gzip (incl. concatenated members)
        raw = gzip.decompress(raw)
    pos, n = 0, len(raw)
    while pos < n:
        # tolerate inter-record CRLF padding
        while pos < n and raw[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if raw[pos : pos + 5] != b"WARC/":
            raise ValueError(f"expected WARC version line at byte {pos}")
        hdr_end = raw.find(_CRLF2, pos)
        if hdr_end < 0:
            raise ValueError("unterminated WARC header block")
        headers: dict[str, str] = {}
        lines = raw[pos:hdr_end].split(b"\r\n")
        for line in lines[1:]:  # line 0 is the version
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            raise ValueError("WARC record missing Content-Length") from None
        if clen < 0:
            # a crafted/corrupt negative length would move the parse
            # position BACKWARDS (pos = body_start + clen), re-yielding
            # the same record forever — reject before it can loop
            raise ValueError(f"negative Content-Length {clen}")
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError("WARC payload overruns file")
        yield (
            headers.get("warc-type"),
            headers.get("warc-target-uri"),
            headers.get("warc-date"),
            headers.get("warc-record-id"),
            headers.get("content-type"),
            raw[body_start : body_start + clen],
        )
        pos = body_start + clen


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """One row per WARC record across every file under ``path``:
    (file, record_idx, warc_type, url, warc_date, record_id,
    content_type, payload, error). A file that fails to parse is never
    batch-fatal: records parsed BEFORE the failure point are kept
    (salvage — a 1 GB segment with one corrupt tail record should not
    lose its good records), and one ``warc_type='corrupt'`` row with
    ``record_idx=-1`` carries the error, so corruption is observable
    per file (``max(warc_type='corrupt')`` per file flags it) while
    good data survives. A file that is garbage from byte 0 therefore
    yields exactly the one corrupt row."""
    cols = [
        "file", "record_idx", "warc_type", "url", "warc_date",
        "record_id", "content_type", "payload", "error",
    ]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                try:
                    for i, rec in enumerate(_parse_warc_bytes(bytes(blob))):
                        wtype, url, date, rid, ctype, payload = rec
                        out.append(
                            {
                                "file": fpath,
                                "record_idx": i,
                                "warc_type": wtype,
                                "url": url,
                                "warc_date": date,
                                "record_id": rid,
                                "content_type": ctype,
                                "payload": payload,
                                "error": None,
                            }
                        )
                except (ValueError, OSError, EOFError, zlib.error) as e:
                    # OSError (incl. BadGzipFile) / EOFError / the
                    # raw zlib.error: gzip-level corruption —
                    # zlib.error subclasses Exception, NOT OSError,
                    # so without naming it a mid-stream deflate error
                    # ("invalid code", "distance too far back") broke
                    # the per-file degrade contract and failed the
                    # whole batch (found by the round-12 extended
                    # fuzz campaign)
                    out.append(
                        dict.fromkeys(cols)
                        | {
                            "file": fpath,
                            "record_idx": -1,
                            "warc_type": "corrupt",
                            "error": f"{type(e).__name__}: {e}"[:300],
                        }
                    )
            yield pd.DataFrame(out, columns=cols)

    binf = spark.read.format("binaryFile").load(path)
    return binf.select("path", "content").mapInPandas(batches, WARC_SCHEMA)


HTTP_SCHEMA = (
    "file string, record_idx int, url string, warc_date string, "
    "http_status int, http_content_type string, body binary, "
    "text string"
)


def wet_conversions(records: DataFrame) -> DataFrame:
    """Common Crawl WET refiner (round 15): one row per
    ``conversion`` record of :func:`read_warc` -> (file, record_idx,
    url, warc_date, text). WET payloads are the crawler's already-
    extracted plain text, UTF-8 by the format spec and with NO HTTP
    envelope — so the projection is a pure JVM cast wrapped in
    ``make_valid_utf8`` (a bare binary->string cast KEEPS invalid
    bytes, which then crash the Arrow conversion downstream — found
    by this refiner's own test; the wrap turns them into U+FFFD,
    the same degrade posture as warc_responses), zero Python, zero
    extra scan. This is the front door for pipelines
    that start from Common Crawl's WET segments instead of raw WARC:
    feed the output straight into text_quality / dedup / BPE."""
    return records.filter(F.col("warc_type") == "conversion").select(
        "file",
        "record_idx",
        "url",
        "warc_date",
        F.make_valid_utf8(F.col("payload").cast("string")).alias(
            "text"
        ),
    )


def wat_metadata(records: DataFrame) -> DataFrame:
    """Common Crawl WAT refiner (round 15): one row per ``metadata``
    record -> (file, record_idx, url, warc_date, json). WAT payloads
    are JSON envelopes (headers, link graphs, title) — kept as a
    STRING column so callers prune with get_json_object /
    from_json on exactly the fields they need (Catalyst pushes the
    JSON path evaluation; parsing the whole envelope eagerly would
    materialize the 10x-wider struct for every consumer)."""
    return records.filter(F.col("warc_type") == "metadata").select(
        "file",
        "record_idx",
        "url",
        "warc_date",
        F.make_valid_utf8(F.col("payload").cast("string")).alias(
            "json"
        ),
    )


def warc_responses(records: DataFrame) -> DataFrame:
    """Project the ``response`` records of :func:`read_warc` into HTTP
    parts: status, Content-Type, raw body bytes, and a best-effort
    UTF-8 text decode (errors replaced) — the input to strip_html /
    text_quality / dedup. Non-HTTP payloads degrade to NULL status
    with the payload preserved in ``body``. Runs as one more
    mapInPandas over rows already filtered to responses, so the heavy
    non-response records (requests, metadata) never reach Python."""
    cols = [
        "file", "record_idx", "url", "warc_date",
        "http_status", "http_content_type", "body", "text",
    ]

    from clustering_spark.operators.inflate import bounded_inflate

    def _dechunk(body: bytes) -> bytes:
        """Undo Transfer-Encoding: chunked (hex-size lines between
        chunks — present verbatim in crawls that store the raw wire
        bytes). Any structural error keeps the RAW body."""
        out = bytearray()
        pos = 0
        n = len(body)
        try:
            while pos < n:
                eol = body.find(b"\r\n", pos)
                if eol < 0:
                    return body
                size_tok = body[pos:eol].split(b";", 1)[0].strip()
                # strict hex only: Python's int() also accepts '+5',
                # '-5' and '1_0' (digit separators) — none are legal
                # chunk sizes, and '-5' would slice with a negative
                # stop (appending nearly the whole body) AND move pos
                # backwards, the crafted-chunk loop/OOM class
                if not size_tok or not all(
                    c in b"0123456789abcdefABCDEF" for c in size_tok
                ):
                    return body
                size = int(size_tok, 16)
                if size == 0:
                    break  # trailer section ignored
                start = eol + 2
                if start + size > n:
                    return body
                out += body[start : start + size]
                if len(out) > MAX_BODY_BYTES:
                    return body  # same budget posture as _decode_body
                pos = start + size + 2  # skip the chunk's CRLF
        except ValueError:
            return body
        return bytes(out)

    import codecs
    import re as _re

    # ``charset`` must be ANCHORED as its own token (round-15 review:
    # the bug class where data-src matches as src) —
    # preceded by ';', whitespace, or a quote. Unanchored, a
    # data-charset attribute or a URL query parameter inside an
    # earlier meta tag (<meta content="http://x/?charset=gbk">) would
    # hijack the page's declared encoding.
    # Solidus handling mirrors the HTML5 tokenizer: '/' acts as an
    # attribute separator only right after the tag name
    # (<meta/charset=, <meta//charset=) or right after a token
    # boundary — whitespace, quote, or ';' — as in
    # <meta http-equiv="Content-Type"/charset=cp1251 (the '/' after
    # a QUOTED value re-enters before-attribute-name state, so
    # browsers honor it; round-16 review). A '/' preceded by an
    # ordinary character is NOT a separator: inside an unquoted
    # value (foo=bar/charset=x the tokenizer keeps as one value) and
    # inside a quoted URL (content="http://x/charset=koi8-r" — URLs
    # carry no raw spaces/quotes, so requiring a boundary before the
    # slash run is exactly what closes the round-15/16 hijack class).
    # The ^ alternative in ct_charset covers a malformed header that
    # IS just the parameter. data-charset stays excluded ('-' not in
    # the class).
    ct_charset = _re.compile(
        r"(?:^|[;\s\"'])charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", _re.I
    )
    meta_charset = _re.compile(
        rb"<meta(?:\s*/+\s*|[^>]{0,256}?[;\s\"']/*)charset"
        rb"\s*=\s*[\"']?([A-Za-z0-9_.:-]+)",
        _re.I,
    )

    def _decode_text(body: bytes, ctype: str | None) -> str:
        """Charset-aware text view: a byte-order mark wins (WHATWG
        encoding sniffing — the BOM outranks even Content-Type, and
        a UTF-16 page would otherwise decode as NUL-riddled
        mojibake), then the Content-Type parameter, then a <meta
        charset> sniff over the first 2 KB, then UTF-8 — all with
        'replace', so no page can fail the batch. Non-UTF-8 pages
        (latin-1, windows-1251, gbk, shift_jis...) previously
        decoded as mojibake that poisoned every downstream text
        stage."""
        if body[:3] == b"\xef\xbb\xbf":
            return body[3:].decode("utf-8", "replace")
        if body[:2] == b"\xff\xfe":
            return body[2:].decode("utf-16-le", "replace")
        if body[:2] == b"\xfe\xff":
            return body[2:].decode("utf-16-be", "replace")
        enc = None
        if ctype:
            m = ct_charset.search(ctype)
            if m:
                enc = m.group(1)
        if enc is None:
            m = meta_charset.search(body[:2048])
            if m:
                enc = m.group(1).decode("ascii", "replace")
        if enc:
            try:
                codecs.lookup(enc)
                return body.decode(enc, "replace")
            except LookupError:
                pass  # unknown label: fall through to UTF-8
        return body.decode("utf-8", "replace")

    def _decode_body(body: bytes, cenc: bytes) -> bytes:
        """Undo HTTP Content-Encoding (the wire reality of crawls
        that store raw responses): gzip and both deflate framings
        (zlib-wrapped and the raw streams some servers ship),
        budget-bounded so a hostile 1000:1 body cannot hold the task.
        Any failure keeps the RAW body — degrade, never batch-fail."""
        try:
            if cenc in (b"gzip", b"x-gzip"):
                return bounded_inflate(
                    body, MAX_BODY_BYTES, "gzip body", wbits=31
                )
            if cenc == b"deflate":
                try:
                    return bounded_inflate(
                        body, MAX_BODY_BYTES, "deflate body", wbits=15
                    )
                except ValueError:
                    return bounded_inflate(
                        body, MAX_BODY_BYTES, "raw-deflate body",
                        wbits=-15,
                    )
        except ValueError:
            pass
        return body

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                status = ctype = None
                body = payload
                if payload[:5] in (b"HTTP/",):
                    split = payload.find(_CRLF2)
                    if split >= 0:
                        head = payload[:split].split(b"\r\n")
                        parts = head[0].split()
                        if len(parts) >= 2 and parts[1].isdigit():
                            status = int(parts[1])
                        cenc = b""
                        chunked = False
                        for line in head[1:]:
                            k, sep, v = line.partition(b":")
                            if not sep:
                                continue
                            key = k.strip().lower()
                            if key == b"content-type":
                                ctype = v.strip().decode("utf-8", "replace")
                            elif key == b"content-encoding":
                                cenc = v.strip().lower()
                            elif key == b"transfer-encoding":
                                chunked = b"chunked" in v.lower()
                        body = payload[split + 4 :]
                        # wire order: de-chunk first, then decompress
                        if chunked:
                            body = _dechunk(body)
                        if cenc:
                            body = _decode_body(body, cenc)
                out.append(
                    {
                        "file": row.file,
                        "record_idx": row.record_idx,
                        "url": row.url,
                        "warc_date": row.warc_date,
                        "http_status": status,
                        "http_content_type": ctype,
                        "body": body,
                        "text": _decode_text(body, ctype),
                    }
                )
            yield pd.DataFrame(out, columns=cols)

    resp = records.filter(F.col("warc_type") == "response").select(
        "file", "record_idx", "url", "warc_date", "payload"
    )
    return resp.mapInPandas(batches, HTTP_SCHEMA)


CRAWL_DOC_SCHEMA = (
    "file string, record_idx int, url string, http_status int, "
    "http_content_type string, doc_kind string, "
    "extracted string, html_text string"
)


def crawl_documents(responses: DataFrame) -> DataFrame:
    """ONE-pass text extraction over :func:`warc_responses` output,
    covering every document modality a crawl carries: binary formats
    (PDF, the OOXML/EPUB ZIP containers, RTF) extract inside a single
    Arrow stage dispatched on the BODY MAGIC (servers lie about
    Content-Type; bytes don't), while text/html bodies pass their
    decoded text through to the JVM-side strip_html projection —
    scan-speed native regexp for the HTML majority, Python only for
    the rows that need a real parser. This is the scale shape: the
    corpus is scanned ONCE, against the alternative of one filtered
    branch per Content-Type each re-reading every blob. Returns
    (file, record_idx, url, http_status, http_content_type,
    doc_kind, text_plain); extraction failures degrade per row to
    doc_kind='corrupt' with NULL text, except encrypted containers
    (PDF /Encrypt, flagged ZIP members) which surface as
    doc_kind='encrypted' — undecryptable-by-design is curation
    signal, not breakage."""
    from clustering_spark.operators.textnorm import strip_html

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from clustering_spark.operators.errors import (
            EncryptedContainerError,
        )
        from clustering_spark.operators.office import (
            RTF_MAGIC,
            ZIP_MAGIC,
            extract_office_text,
            extract_rtf_text,
        )
        from clustering_spark.operators.pdf import extract_pdf_text

        for pdf_ in it:
            rows = []
            for r in pdf_.itertuples(index=False):
                body = bytes(r.body) if r.body is not None else b""
                kind, extracted, html_text = "text", None, None
                try:
                    if body[:5] == b"%PDF-":
                        kind = "pdf"
                        extracted, _ok, _bad = extract_pdf_text(body)
                    elif body[:4] == ZIP_MAGIC:
                        kind, extracted = extract_office_text(body)
                    elif body[: len(RTF_MAGIC)] == RTF_MAGIC:
                        kind = "rtf"
                        extracted = extract_rtf_text(body)
                    else:
                        html_text = r.text
                except EncryptedContainerError:
                    # encrypted containers are undecryptable BY
                    # DESIGN, not broken — keep them separable from
                    # corrupt rows, matching the pdf_text/office_text
                    # status contract. Classified by TYPE (every
                    # encrypted raise in the family uses
                    # EncryptedContainerError), not by message
                    # substring — a rewording can't silently revert
                    # rows to 'corrupt' and an unrelated error
                    # mentioning the word can't be misfiled.
                    kind, extracted = "encrypted", None
                except (ValueError, NotImplementedError):
                    kind, extracted = "corrupt", None
                rows.append(
                    {
                        "file": r.file,
                        "record_idx": r.record_idx,
                        "url": r.url,
                        "http_status": r.http_status,
                        "http_content_type": r.http_content_type,
                        "doc_kind": kind,
                        "extracted": extracted,
                        "html_text": html_text,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "record_idx", "url", "http_status",
                    "http_content_type", "doc_kind", "extracted",
                    "html_text",
                ],
            )

    staged = responses.mapInPandas(batches, CRAWL_DOC_SCHEMA)
    return staged.select(
        "file",
        "record_idx",
        "url",
        "http_status",
        "http_content_type",
        "doc_kind",
        F.coalesce(
            F.col("extracted"), strip_html(F.col("html_text"))
        ).alias("text_plain"),
    )


def make_warc(
    records: list[tuple[str, str, bytes]],
    gzip_members: bool = False,
) -> bytes:
    """Deterministic WARC fixture: ``records`` is a list of
    (warc_type, url, payload). ``gzip_members=True`` emits each record
    as its own gzip member (the crawl wire layout). Payloads for
    response records should start with an HTTP head to exercise
    warc_responses."""
    out = bytearray()
    for i, (wtype, url, payload) in enumerate(records):
        hdr = (
            b"WARC/1.0\r\n"
            + f"WARC-Type: {wtype}\r\n".encode()
            + f"WARC-Record-ID: <urn:test:{i}>\r\n".encode()
            + (f"WARC-Target-URI: {url}\r\n".encode() if url else b"")
            + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(payload)}\r\n".encode()
            + b"\r\n"
        )
        rec = hdr + payload + b"\r\n\r\n"
        out += gzip.compress(rec) if gzip_members else rec
    return bytes(out)


def make_http_response(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """HTTP/1.1 response payload for WARC response-record fixtures."""
    return (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


__all__ = [
    "wet_conversions",
    "wat_metadata",
    "WARC_SCHEMA",
    "HTTP_SCHEMA",
    "CRAWL_DOC_SCHEMA",
    "read_warc",
    "warc_responses",
    "crawl_documents",
    "make_warc",
    "make_http_response",
]
