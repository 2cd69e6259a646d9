"""WARC (Web ARChive, ISO 28500) reader/writer, pure stdlib — the
container format Common Crawl ships, i.e. the on-disk shape of a real
web training corpus. Written from the public spec:

- a .warc.gz shard is a CONCATENATION of per-record gzip members (CC's
  exact layout: each record independently seekable/decompressable);
- each record is ``WARC/1.0\\r\\n`` + headers + CRLFCRLF + exactly
  Content-Length payload bytes + CRLFCRLF;
- response records carry a full HTTP/1.1 response (status line, headers,
  CRLFCRLF, body) as their payload.

The writer emits a warcinfo record first (like real crawls) and pins
every varying field (record ids, dates) to deterministic values so
staged shards are byte-stable across runs. The reader is strict where
the spec is (Content-Length honored exactly, member boundaries must
align with record boundaries) and lenient where real files are messy
(header names case-insensitive, non-response records skipped).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

from .compression import decompress, gunzip_member

_CRLF = b"\r\n"
# Content-Encoding tokens -> compression codecs, tried in turn: deflate
# falls back to BARE deflate when the zlib wrapper is absent
_CONTENT_CODECS = {
    "gzip": ("gzip",), "x-gzip": ("gzip",), "deflate": ("zlib", "deflate"),
    "zstd": ("zstd",),
}


def gzip_member(payload: bytes) -> bytes:
    """One gzip member with a fixed header (mtime=0, no name) so output
    bytes are deterministic — required for idempotent staging."""
    c = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(payload) + c.flush()


def split_gzip_members(blob: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members one member at a time —
    the CC shard layout. A one-member gunzip would stop after the first
    member; ``gzip.decompress`` would fuse them all into one blob and
    lose the record framing."""
    i = 0
    while i < len(blob):
        try:
            out, used = gunzip_member(blob[i:])
        except ValueError as exc:
            raise ValueError(f"gzip member at offset {i}: {exc}") from exc
        yield out
        i += used


def encode_warc_record(
    rec_type: str, headers: dict[str, str], payload: bytes
) -> bytes:
    """One uncompressed WARC/1.0 record. ``headers`` must NOT include
    WARC-Type or Content-Length — those are derived here."""
    lines = [b"WARC/1.0", f"WARC-Type: {rec_type}".encode()]
    lines += [f"{k}: {v}".encode() for k, v in headers.items()]
    lines.append(f"Content-Length: {len(payload)}".encode())
    return _CRLF.join(lines) + _CRLF * 2 + payload + _CRLF * 2


def encode_chunked(body: bytes, seed: int = 0) -> bytes:
    """Wrap wire bytes in the RFC 9112 chunked coding with
    deterministic content-varying chunk sizes (so staged corpora
    exercise multi-chunk framing) and a chunk extension + trailer on
    the first/last frames (the parts naive dechunkers choke on)."""
    out = bytearray()
    i = 0
    n = 0
    while i < len(body):
        size = 7 + ((seed + n * 13 + body[i]) % 23)
        chunk = body[i : i + size]
        ext = b";x=1" if n == 0 else b""
        out += f"{len(chunk):x}".encode() + ext + _CRLF + chunk + _CRLF
        i += len(chunk)
        n += 1
    out += b"0" + _CRLF + b"X-Trailer: t" + _CRLF + _CRLF
    return bytes(out)


def encode_http_response(
    body: bytes,
    status: int = 200,
    ctype: str = "text/html; charset=utf-8",
    content_encoding: str | None = None,
    chunked: bool = False,
) -> bytes:
    """``content_encoding`` stages what RFC-compliant captures actually
    carry — a body compressed at the HTTP layer, independent of the
    per-record gzip member:

    - ``"gzip"``    — gzip-wrapped body, ``Content-Encoding: gzip``;
    - ``"deflate"`` — the RFC 9110 coding (zlib-wrapped, RFC 1950);
    - ``"deflate-raw"`` — header says ``deflate`` but the bytes are BARE
      RFC 1951 deflate, the infamous broken-server shape every browser
      tolerates (decoders must sniff);
    - ``"verbatim:<name>"`` — emit ``Content-Encoding: <name>`` over the
      body bytes EXACTLY as given (staging torn compressed streams);
    - any other value — header emitted verbatim over the UNCOMPRESSED
      body (e.g. staging an undecodable ``br`` quarantine class).
    """
    header_val = None
    if content_encoding and content_encoding.startswith("verbatim:"):
        header_val = content_encoding.split(":", 1)[1]
    elif content_encoding == "gzip":
        body, header_val = gzip_member(body), "gzip"
    elif content_encoding == "deflate":
        body, header_val = zlib.compress(body, 6), "deflate"
    elif content_encoding == "deflate-raw":
        c = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
        body, header_val = c.compress(body) + c.flush(), "deflate"
    elif content_encoding:
        header_val = content_encoding
    reason = {200: "OK", 404: "Not Found", 500: "Internal Server Error"}.get(
        status, "Unknown"
    )
    ce = f"Content-Encoding: {header_val}\r\n" if header_val else ""
    if chunked:
        # Transfer-Encoding applies to the WIRE (after any content
        # coding); RFC 9112 §6.2 forbids Content-Length with it
        body = encode_chunked(body, seed=status)
        framing = "Transfer-Encoding: chunked\r\n"
    else:
        framing = f"Content-Length: {len(body)}\r\n"
    head = (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {ctype}\r\n{ce}{framing}\r\n"
    )
    return head.encode() + body


def decode_chunked(body: bytes) -> bytes:
    """Decode an RFC 9112 §7.1 chunked transfer coding: hex chunk-size
    lines (chunk extensions after ';' ignored per spec), CRLF-framed
    chunk data, the 0-size last chunk, then optional trailer fields up
    to the final empty line.  Real captures store the WIRE bytes, so a
    crawl reader that skips this step hashes chunk framing into the
    document text.  Torn framing raises ValueError: a size line that is
    not hex, chunk data running past the record, a missing terminating
    CRLF, or a stream ending before the last chunk."""
    out = bytearray()
    i = 0
    while True:
        nl = body.find(_CRLF, i)
        if nl < 0:
            raise ValueError("chunked: size line not terminated")
        size_token = body[i:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError as exc:
            raise ValueError(
                f"chunked: bad chunk size {size_token!r}"
            ) from exc
        i = nl + 2
        if size == 0:
            # trailer section: zero or more header lines, then CRLF
            while True:
                nl = body.find(_CRLF, i)
                if nl < 0:
                    raise ValueError("chunked: trailer not terminated")
                if nl == i:  # the empty line ends the message
                    return bytes(out)
                i = nl + 2
        chunk = body[i : i + size]
        if len(chunk) < size:
            raise ValueError("chunked: chunk data truncated")
        out += chunk
        i += size
        if body[i : i + 2] != _CRLF:
            raise ValueError("chunked: chunk data not CRLF-terminated")
        i += 2


def decode_content_encoding(body: bytes, encoding: str) -> bytes:
    """Decode an HTTP response body per its Content-Encoding header
    (RFC 9110 §8.4): identity/gzip/deflate supported, with the
    browser-standard fallback to BARE deflate when the zlib wrapper is
    absent.  ``zstd`` (RFC 9878-registered, shipped by Chrome since
    2024) decodes through the own RFC 8878 codec in zstd.py.  Torn
    streams and bodies over ``compression.MAX_OUTPUT`` raise ValueError;
    ``br``/anything else raises NotImplementedError, the loud seam (no
    brotli codec exists in this environment)."""
    enc = encoding.strip().lower()
    if enc in ("", "identity"):
        return body
    codecs = _CONTENT_CODECS.get(enc)
    if codecs is None:
        raise NotImplementedError(
            f"content-encoding {enc!r} needs an external codec"
        )
    for codec in codecs:
        try:
            return decompress(codec, body)
        except ValueError as exc:
            err = exc
    raise ValueError(f"content-encoding {enc}: {err}") from err


def encode_warc_shard(records: list[tuple], shard_id: int) -> bytes:
    """A complete .warc.gz shard: a warcinfo member first (as real crawls
    write), then one gzip member per (target_uri, body, http_status[,
    content_type]) response record — the optional 4th element defaults to
    text/html, so mixed-media crawls (HTML pages beside image payloads,
    the LAION ingest shape) stage through the same writer. All ids/dates
    are deterministic functions of shard/record position."""
    info = encode_warc_record(
        "warcinfo",
        {
            "WARC-Record-ID": f"<urn:uuid:shard-{shard_id}-info>",
            "WARC-Date": "2026-01-01T00:00:00Z",
            "Content-Type": "application/warc-fields",
        },
        b"software: etl-pipeline-old-spark synthetic crawler\r\n",
    )
    out = [gzip_member(info)]
    for k, rec_tuple in enumerate(records):
        uri, body, status = rec_tuple[:3]
        ctype = rec_tuple[3] if len(rec_tuple) > 3 else "text/html; charset=utf-8"
        rec = encode_warc_record(
            "response",
            {
                "WARC-Record-ID": f"<urn:uuid:shard-{shard_id}-rec-{k}>",
                "WARC-Date": "2026-01-01T00:00:00Z",
                "WARC-Target-URI": uri,
                "Content-Type": "application/http; msgtype=response",
            },
            encode_http_response(body, status, ctype),
        )
        out.append(gzip_member(rec))
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.decode("ascii").strip().lower()] = v.decode(
                "utf-8", "replace"
            ).strip()
    return headers


def iter_warc_responses(blob: bytes) -> Iterator[tuple[str, int, bytes]]:
    """Parse a .warc.gz shard (or uncompressed WARC bytes) and yield
    (target_uri, http_status, html_body) for each response record;
    warcinfo/request/metadata records are skipped. Strict on framing:
    a record whose payload is shorter than its Content-Length raises
    (torn upload), as does a gzip member holding anything but WARC."""
    members = (
        split_gzip_members(blob) if blob[:2] == b"\x1f\x8b" else _split_plain(blob)
    )
    for rec in members:
        parsed = _parse_record(rec)
        if parsed is not None:
            yield parsed


def iter_warc_responses_typed(
    blob: bytes,
) -> Iterator[tuple[str, int, str, bytes]]:
    """Like iter_warc_responses but yields (target_uri, http_status,
    content_type, body) — the walk a mixed-media crawl reader needs to
    route HTML pages and image payloads to different decode paths."""
    members = (
        split_gzip_members(blob) if blob[:2] == b"\x1f\x8b" else _split_plain(blob)
    )
    for rec in members:
        parsed = _parse_record_typed(rec)
        if parsed is not None:
            yield parsed


def encode_warc_revisit(
    uri: str, refers_to_uri: str, digest: str
) -> bytes:
    """A WARC 1.1 ``revisit`` record with the identical-payload-digest
    profile — what a crawler writes INSTEAD of the body when a re-fetch
    hashes to a capture it already stores (the storage-dedup mechanism
    of every real crawl): WARC-Payload-Digest names the shared hash,
    WARC-Refers-To-Target-URI the capture holding the bytes, and the
    record block is empty."""
    return encode_warc_record(
        "revisit",
        {
            "WARC-Target-URI": uri,
            "WARC-Profile":
                "http://netpreserve.org/warc/1.1/revisit/"
                "identical-payload-digest",
            "WARC-Refers-To-Target-URI": refers_to_uri,
            "WARC-Payload-Digest": f"sha1:{digest}",
        },
        b"",
    )


def iter_warc_captures(
    blob: bytes,
) -> Iterator[tuple[str, str, str, str, bytes | None]]:
    """The dedup-aware walk: yields (rec_type, target_uri,
    payload_digest, refers_to_uri, body) for response AND revisit
    records — revisits carry no body (their bytes live at the referred
    capture; resolving that reference is a corpus-level JOIN, not a
    per-record lookup).  Other record types are skipped; framing stays
    strict."""
    members = (
        split_gzip_members(blob) if blob[:2] == b"\x1f\x8b"
        else _split_plain(blob)
    )
    for rec in members:
        if not rec.startswith(b"WARC/"):
            raise ValueError(f"not a WARC record: {rec[:16]!r}")
        head, sep, rest = rec.partition(_CRLF * 2)
        if not sep:
            raise ValueError("WARC header block not terminated")
        headers = _parse_headers(head)
        length = int(headers["content-length"])
        payload = rest[:length]
        if len(payload) < length:
            raise ValueError(
                f"truncated record: payload {len(payload)} < {length}"
            )
        rtype = headers.get("warc-type", "")
        uri = headers.get("warc-target-uri", "")
        digest = headers.get("warc-payload-digest", "").removeprefix(
            "sha1:"
        )
        if rtype == "response":
            _head, _, body = payload.partition(_CRLF * 2)
            yield rtype, uri, digest, "", body
        elif rtype == "revisit":
            yield (
                rtype, uri, digest,
                headers.get("warc-refers-to-target-uri", ""), None,
            )


def _split_plain(blob: bytes) -> Iterator[bytes]:
    """Record-split uncompressed WARC bytes by walking Content-Length —
    splitting on the bare 'WARC/1.0' string would corrupt records whose
    payload contains that text."""
    i = 0
    while i < len(blob):
        head_end = blob.index(_CRLF * 2, i)
        headers = _parse_headers(blob[i:head_end])
        length = int(headers["content-length"])
        end = head_end + 4 + length + 4
        yield blob[i:end]
        i = end


def _parse_record_typed(
    rec: bytes, full_ctype: bool = False
) -> tuple[str, int, str, bytes] | None:
    """Parse one uncompressed WARC record; (uri, status, content_type,
    body) for responses, None for other record types; raises on bad
    framing. content_type is the HTTP response header's media type
    (parameters like charset stripped unless ``full_ctype`` — the
    charset-detection path needs them), '' if the response carries none
    — the routing key a mixed-media crawl needs (HTML vs image/*)."""
    if not rec.startswith(b"WARC/"):
        raise ValueError(f"not a WARC record: {rec[:16]!r}")
    head, sep, rest = rec.partition(_CRLF * 2)
    if not sep:
        raise ValueError("WARC header block not terminated")
    headers = _parse_headers(head)
    length = int(headers["content-length"])
    payload = rest[:length]
    if len(payload) < length:
        raise ValueError(f"truncated record: payload {len(payload)} < {length}")
    if headers.get("warc-type") != "response":
        return None
    status_line, _, _http_rest = payload.partition(_CRLF)
    status = int(status_line.split(b" ")[1])
    http_head, _, body = payload.partition(_CRLF * 2)
    http_headers = _parse_headers(http_head)
    ctype = http_headers.get("content-type", "")
    if not full_ctype:
        ctype = ctype.split(";")[0].strip()
    # Content-Encoding is transport plumbing, not content: every walk
    # yields the DECODED representation (real RFC-compliant captures
    # carry compressed bodies constantly; hashing/extracting the raw
    # bytes would be wrong for all of them). Torn streams raise
    # ValueError, br NotImplementedError — strict walks abort, the
    # lenient/encoded walks quarantine the one record.
    te = http_headers.get("transfer-encoding", "")
    if te:
        if te.strip().lower() != "chunked":
            raise NotImplementedError(
                f"transfer-encoding {te!r} not decodable here"
            )
        body = decode_chunked(body)
    ce = http_headers.get("content-encoding", "")
    if ce:
        body = decode_content_encoding(body, ce)
    return headers.get("warc-target-uri", ""), status, ctype, body


def iter_warc_responses_raw_ctype(
    blob: bytes,
) -> Iterator[tuple[str, int, str, bytes]]:
    """Like iter_warc_responses_typed but the content type keeps its
    parameters (``text/html; charset=windows-1251``) — the charset
    detection cascade's HTTP evidence tier needs them verbatim."""
    members = (
        split_gzip_members(blob) if blob[:2] == b"\x1f\x8b" else _split_plain(blob)
    )
    for rec in members:
        parsed = _parse_record_typed(rec, full_ctype=True)
        if parsed is not None:
            yield parsed


def iter_warc_responses_encoded(
    blob: bytes,
) -> Iterator[tuple[str, int, str, str, bytes | None, str | None]]:
    """The Transfer-/Content-Encoding-aware walk with PER-RECORD body
    quarantine: yields (target_uri, http_status, transfer_encoding,
    content_encoding, decoded_body, None) for every decodable response
    — chunked framing removed first, then the content coding — and
    (uri, status, te, ce, None, err) when the body cannot be decoded
    (torn chunk framing, torn deflate stream, br without a codec) and
    (uri, 0, '', '', None, err) when the HTTP head itself is garbage —
    the WARC framing itself stays strict, so the URI survives even
    when the HTTP payload does not.  This is the walk a
    real-crawl extractor needs: one bad body costs one record's text,
    never the shard."""
    members = (
        split_gzip_members(blob) if blob[:2] == b"\x1f\x8b" else _split_plain(blob)
    )
    for rec in members:
        if not rec.startswith(b"WARC/"):
            raise ValueError(f"not a WARC record: {rec[:16]!r}")
        head, sep, rest = rec.partition(_CRLF * 2)
        if not sep:
            raise ValueError("WARC header block not terminated")
        headers = _parse_headers(head)
        length = int(headers["content-length"])
        payload = rest[:length]
        if len(payload) < length:
            raise ValueError(
                f"truncated record: payload {len(payload)} < {length}"
            )
        if headers.get("warc-type") != "response":
            continue
        uri = headers.get("warc-target-uri", "")
        # the HTTP head is part of the per-record quarantine contract
        # too: intact WARC framing around a garbage/truncated status
        # line or header block costs THAT record, never the shard
        # (r13 ADVICE)
        try:
            status_line, _, _r = payload.partition(_CRLF)
            parts = status_line.split(b" ")
            if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
                raise ValueError(
                    f"bad HTTP status line {status_line[:40]!r}"
                )
            status = int(parts[1])
            http_head, _, body = payload.partition(_CRLF * 2)
            hh = _parse_headers(http_head)
        except (ValueError, IndexError) as exc:
            yield uri, 0, "", "", None, f"http head unparsable: {exc}"
            continue
        ce = hh.get("content-encoding", "")
        te = hh.get("transfer-encoding", "").strip().lower()
        try:
            if te:
                if te != "chunked":
                    raise NotImplementedError(
                        f"transfer-encoding {te!r} not decodable here"
                    )
                body = decode_chunked(body)
            yield uri, status, te, ce, decode_content_encoding(body, ce), None
        except (ValueError, NotImplementedError) as exc:
            yield uri, status, te, ce, None, str(exc)


def _parse_record(rec: bytes) -> tuple[str, int, bytes] | None:
    """Parse one uncompressed WARC record; (uri, status, body) for
    responses, None for other record types; raises on bad framing."""
    parsed = _parse_record_typed(rec)
    if parsed is None:
        return None
    uri, status, _ctype, body = parsed
    return uri, status, body


_GZIP_MAGIC = b"\x1f\x8b\x08"
# The full 10-byte deterministic member header our writer emits
# (magic + CM=deflate + FLG=0 + mtime=0 + XFL=0 + OS=3): resyncing on
# this instead of the 3-byte magic makes a spurious match inside
# corrupted compressed bytes ~2^56x less likely, which is what keeps
# warc_ingest_quarantine's exact per-shard n_ok/n_corrupt oracle safe
# as the corpus grows (r7 ADVICE).
_GZIP_SIG = gzip_member(b"")[:10]


def iter_warc_responses_lenient(
    blob: bytes,
) -> Iterator[tuple[str, int, bytes, str | None]]:
    """Per-member fault isolation for .warc.gz shards: yield
    (target_uri, status, body, None) for every readable response record
    and ('', 0, b'', err) for every torn member, RESYNCING at the next
    gzip member header after a corrupt one — the behavior a crawl-scale
    reader needs, since one flipped byte mid-shard must quarantine one
    record, not 25. Resync prefers the writer's full 10-byte
    deterministic header; if that is absent (a foreign shard with
    nonzero mtime), it falls back to the 3-byte magic — best-effort for
    foreign files, exact for our staged corpus. Non-response records are
    skipped silently like the strict walk."""
    i, n = 0, len(blob)
    while i < n:
        try:
            # a member torn before its end-of-stream code raises here
            # too, so a torn tail never surfaces as a fabricated record
            rec, consumed = gunzip_member(blob[i:])
        except ValueError as exc:
            yield "", 0, b"", str(exc)
            nxt = blob.find(_GZIP_SIG, i + 1)
            if nxt == -1:
                nxt = blob.find(_GZIP_MAGIC, i + 1)
            i = nxt if nxt != -1 else n
            continue
        i += consumed
        try:
            parsed = _parse_record(rec)
        except (ValueError, IndexError, NotImplementedError) as exc:
            yield "", 0, b"", f"warc: {exc}"
            continue
        if parsed is not None:
            uri, status, body = parsed
            yield uri, status, body, None
