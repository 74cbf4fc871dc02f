"""WARC archive ingestion — the container format a real web crawl
arrives in (Common Crawl delivers ~100 MB WARC shards; 100 TB of crawl
is ~a million of them).

The scale shape mirrors ``scan_jsonl_gzip``: the SHARDING is the
parallelism (one archive file = one scan task), so a corpus must
arrive as many modest shards, and the record walk inside each shard is
sequential by construction (records are length-prefixed by their
``Content-Length`` header — there is no mid-file sync point to split
on). Spark's ``binaryFile`` source distributes the shard listing;
parsing runs in an Arrow-batched ``mapInPandas`` kernel, and only the
extracted columns (url, mime, digest, text) return to the JVM — never
the archive bytes.

The writer here is the deterministic FIXTURE side (every document
becomes one ``response`` record wrapped in a real HTTP/1.1 envelope,
with ``warcinfo``/``metadata`` records the parser must skip, byte
lengths computed on utf-8), so the DuckDB oracle can replay the
construction; the PARSER is the operator under test and handles the
real format: header block terminated by CRLFCRLF, case-insensitive
header names, Content-Length-framed payloads, the two-CRLF record
separator, and the HTTP envelope strip.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of the WARC scan: one row per response record.
WARC_SCAN_SCHEMA = "url string, mime string, payload_sha256 string, text string"

_CRLF = b"\r\n"
_FIXED_DATE = "2026-01-01T00:00:00Z"  # fixture timestamp (determinism)


def _warc_record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = b"WARC/1.0" + _CRLF
    for k, v in headers:
        head += f"{k}: {v}".encode() + _CRLF
    head += f"Content-Length: {len(payload)}".encode() + _CRLF + _CRLF
    return head + payload + _CRLF + _CRLF


def warc_url(doc_id: int) -> str:
    return f"https://corpus.example.com/docs/{doc_id}"


def make_warc_shard(
    rows: list[tuple[int, str]],
    shard: int,
    *,
    mime: str = "text/plain; charset=utf-8",
) -> bytes:
    """One deterministic WARC/1.0 shard: a ``warcinfo`` head record
    (real files carry one; the parser must skip it), then per document
    a ``response`` record whose payload is a full HTTP/1.1 envelope
    around the utf-8 text, and for every 10th doc an extra ``metadata``
    record (another skip case). Record IDs are md5-derived pseudo-UUIDs
    so re-runs are byte-identical."""
    out = bytearray()
    info = f"software: spark-graft\r\nshard: {shard}\r\n".encode()
    out += _warc_record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Date", _FIXED_DATE),
            ("WARC-Record-ID", f"<urn:uuid:{hashlib.md5(f'warcinfo:{shard}'.encode()).hexdigest()}>"),
            ("Content-Type", "application/warc-fields"),
        ],
        info,
    )
    for doc_id, text in rows:
        body = text.encode("utf-8")
        http = (
            b"HTTP/1.1 200 OK" + _CRLF
            + b"Content-Type: " + mime.encode() + _CRLF
            + f"Content-Length: {len(body)}".encode() + _CRLF
            + _CRLF
            + body
        )
        out += _warc_record(
            [
                ("WARC-Type", "response"),
                ("WARC-Target-URI", warc_url(doc_id)),
                ("WARC-Date", _FIXED_DATE),
                ("WARC-Record-ID", f"<urn:uuid:{hashlib.md5(f'response:{doc_id}'.encode()).hexdigest()}>"),
                ("Content-Type", "application/http;msgtype=response"),
            ],
            http,
        )
        if doc_id % 10 == 0:
            out += _warc_record(
                [
                    ("WARC-Type", "metadata"),
                    ("WARC-Target-URI", warc_url(doc_id)),
                    ("WARC-Date", _FIXED_DATE),
                    ("WARC-Record-ID", f"<urn:uuid:{hashlib.md5(f'metadata:{doc_id}'.encode()).hexdigest()}>"),
                    ("Content-Type", "application/warc-fields"),
                ],
                f"fetchTimeMs: {doc_id % 997}\r\n".encode(),
            )
    return bytes(out)


def iter_response_records(payload: bytes) -> Iterator[tuple[str, str, bytes]]:
    """Walk one WARC shard: for each record, read the header block up
    to CRLFCRLF, frame the payload by ``Content-Length``, require the
    two-CRLF separator, and for ``response`` records strip the HTTP
    envelope and yield (url, mime, body-bytes). Non-response records
    (warcinfo, metadata, request, ...) are skipped — framed and stepped
    over, never guessed at. Malformed framing raises ValueError (the
    codec-module contract: truncation is a ValueError, not an
    IndexError)."""
    pos = 0
    n = len(payload)
    while pos < n:
        head_end = payload.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError("truncated WARC record header")
        head = payload[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError("WARC record desync (missing version line)")
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record missing a numeric Content-Length")
        body_start = head_end + 4
        body_end = body_start + length
        if body_end + 4 > n:
            raise ValueError("truncated WARC record payload")
        if payload[body_end : body_end + 4] != _CRLF + _CRLF:
            raise ValueError("WARC record separator missing")
        if headers.get("warc-type") == "response":
            body = payload[body_start:body_end]
            http_end = body.find(_CRLF + _CRLF)
            if http_end < 0 or not body.startswith(b"HTTP/"):
                raise ValueError("response record payload is not an HTTP message")
            mime = "application/octet-stream"
            for line in body[:http_end].decode("utf-8", "replace").split("\r\n")[1:]:
                k, _, v = line.partition(":")
                if k.strip().lower() == "content-type":
                    mime = v.strip()
            yield headers.get("warc-target-uri", ""), mime, body[http_end + 4 :]
        pos = body_end + 4


def parse_warc(payload: bytes) -> list[tuple[str, str, str, str]]:
    """Text-corpus projection of :func:`iter_response_records`:
    (url, mime, payload_sha256, text) per response record."""
    return [
        (url, mime, hashlib.sha256(body).hexdigest(), body.decode("utf-8"))
        for url, mime, body in iter_response_records(payload)
    ]


def write_warc_shards(
    docs: DataFrame,
    out_dir: str,
    *,
    n_shards: int = 8,
    mime: str = "text/plain; charset=utf-8",
) -> None:
    """Write the corpus as ``n_shards`` WARC files, built EXECUTOR-side
    (the fixture equivalent of a crawler fleet emitting shards): docs
    are repartitioned on ``doc_id % n_shards`` so each shard's records
    land in exactly one task, and each task serializes its shard(s)
    with :func:`make_warc_shard`. Files open ``wb`` on first touch
    within the task, so a task retry rewrites its shards cleanly
    instead of appending duplicates. Record order within a shard is
    batch-arrival order — the scan output is a SET of records, so
    order carries no meaning."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opened: set[int] = set()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for shard, grp in pdf.groupby(pdf["doc_id"] % n_shards):
                shard = int(shard)
                rows = list(zip(grp["doc_id"].astype(int), grp["text"]))
                mode = "ab" if shard in opened else "wb"
                opened.add(shard)
                with open(os.path.join(out_dir, f"shard-{shard}.warc"), mode) as f:
                    f.write(make_warc_shard(rows, shard, mime=mime))
        yield pd.DataFrame({"n": []}, dtype="int64")

    (
        docs.select("doc_id", "text")
        .repartition(n_shards, F.col("doc_id") % n_shards)
        .mapInPandas(_write, schema="n long")
        .write.format("noop").mode("overwrite").save()
    )


def scan_warc(spark, warc_dir: str) -> DataFrame:
    """Distributed WARC scan: ``binaryFile`` lists and distributes the
    shards (one task per file — the gzip-style unsplittability story),
    and the Arrow-batched kernel walks each shard's records. Only the
    extracted columns return to the JVM."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls, mimes, digests, texts = [], [], [], []
            for content in pdf["content"]:
                for url, mime, digest, text in parse_warc(bytes(content)):
                    urls.append(url)
                    mimes.append(mime)
                    digests.append(digest)
                    texts.append(text)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "mime": mimes,
                    "payload_sha256": digests,
                    "text": texts,
                }
            )

    shards = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(warc_dir)
        .select("content")
    )
    return shards.mapInPandas(_parse, schema=WARC_SCAN_SCHEMA)


# --- mixed-payload WARC: the codecs + text pipeline composition point ----------

#: Output schema of the mixed-media WARC scan: text records carry
#: ``text`` (image columns NULL), image records carry the decoded
#: (width, height, pixel_sum) projection (text NULL).
WARC_MEDIA_SCHEMA = (
    "url string, mime string, width int, height int, pixel_sum long, text string"
)


def is_media_doc(doc_id: int) -> bool:
    """Fixture rule: every 5th document's WARC record carries a REAL
    baseline JPEG payload instead of text (crawls are mixed-content;
    the scan must dispatch by mime, not assume a corpus-wide type)."""
    return doc_id % 5 == 0


def make_warc_media_shard(rows: list[tuple[int, str]], shard: int) -> bytes:
    """Mixed-content sibling of :func:`make_warc_shard`: text docs keep
    their utf-8 HTTP envelope; media docs (:func:`is_media_doc`) carry
    the SAME real JPEG bytes the ``multimodal_jpeg_decode`` fixture
    encodes (operators/multimodal.py:jpeg_payload), under
    ``image/jpeg``. One container, two payload kinds — the shape a
    real crawl shard has."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        jpeg_payload,
    )

    out = bytearray()
    out += _warc_record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Date", _FIXED_DATE),
            ("WARC-Record-ID", f"<urn:uuid:{hashlib.md5(f'warcinfo-media:{shard}'.encode()).hexdigest()}>"),
            ("Content-Type", "application/warc-fields"),
        ],
        f"software: spark-graft\r\nshard: {shard}\r\n".encode(),
    )
    for doc_id, text in rows:
        if is_media_doc(doc_id):
            body = jpeg_payload(doc_id)
            ctype = b"image/jpeg"
        else:
            body = text.encode("utf-8")
            ctype = b"text/plain; charset=utf-8"
        http = (
            b"HTTP/1.1 200 OK" + _CRLF
            + b"Content-Type: " + ctype + _CRLF
            + f"Content-Length: {len(body)}".encode() + _CRLF
            + _CRLF
            + body
        )
        out += _warc_record(
            [
                ("WARC-Type", "response"),
                ("WARC-Target-URI", warc_url(doc_id)),
                ("WARC-Date", _FIXED_DATE),
                ("WARC-Record-ID", f"<urn:uuid:{hashlib.md5(f'response-media:{doc_id}'.encode()).hexdigest()}>"),
                ("Content-Type", "application/http;msgtype=response"),
            ],
            http,
        )
    return bytes(out)


def write_warc_media_shards(docs: DataFrame, out_dir: str, *, n_shards: int = 8) -> None:
    """Mixed-content variant of :func:`write_warc_shards` (same
    executor-side, retry-safe, one-task-per-shard construction)."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opened: set[int] = set()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for shard, grp in pdf.groupby(pdf["doc_id"] % n_shards):
                shard = int(shard)
                rows = list(zip(grp["doc_id"].astype(int), grp["text"]))
                mode = "ab" if shard in opened else "wb"
                opened.add(shard)
                with open(os.path.join(out_dir, f"shard-{shard}.warc"), mode) as f:
                    f.write(make_warc_media_shard(rows, shard))
        yield pd.DataFrame({"n": []}, dtype="int64")

    (
        docs.select("doc_id", "text")
        .repartition(n_shards, F.col("doc_id") % n_shards)
        .mapInPandas(_write, schema="n long")
        .write.format("noop").mode("overwrite").save()
    )


def scan_warc_media(spark, warc_dir: str) -> DataFrame:
    """Mixed-content WARC scan — the composition point of the archive
    walk and the codec suite: one Arrow-batched kernel walks the
    records AND dispatches each response by mime (``image/jpeg`` →
    the from-scratch baseline JPEG decoder's (width, height,
    pixel_sum) projection; ``text/*`` → the utf-8 text). At 100 TB
    this one-pass shape matters: the alternative — scan the archive
    once per modality — re-reads the crawl N times. Archive and image
    bytes both stay executor-side."""
    from machine_learning_algorithm_sparkml__spark.operators.multimodal import (
        decode_jpeg,
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for content in pdf["content"]:
                for url, mime, body in iter_response_records(bytes(content)):
                    if mime.startswith("image/jpeg"):
                        w, h, px = decode_jpeg(body)
                        rows.append((url, mime, w, h, int(px.astype(np.int64).sum()), None))
                    else:
                        rows.append((url, mime, None, None, None, body.decode("utf-8")))
            yield pd.DataFrame(
                rows,
                columns=["url", "mime", "width", "height", "pixel_sum", "text"],
            )

    shards = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(warc_dir)
        .select("content")
    )
    return shards.mapInPandas(_parse, schema=WARC_MEDIA_SCHEMA)


# --- gzip member-per-record WARC (.warc.gz): the actual crawl wire layout ------


def iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Split a multi-member gzip stream into its members' decompressed
    payloads — the mechanism that makes ``.warc.gz`` RANDOM-ACCESSIBLE:
    one record per member means a byte offset from an index lets a
    reader inflate exactly one record without touching the rest of the
    shard. Implemented with ``zlib.decompressobj(wbits=31)`` per member
    and the ``unused_data`` hand-off (gzip.decompress would hide the
    member boundaries this operator is ABOUT)."""
    import zlib

    pos_data = data
    while pos_data:
        d = zlib.decompressobj(wbits=31)
        try:
            member = d.decompress(pos_data)
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member in WARC shard: {exc}")
        if not d.eof:
            raise ValueError("truncated gzip member in WARC shard")
        yield member
        pos_data = d.unused_data


def make_warc_gz_shard(rows: list[tuple[int, str]], shard: int) -> bytes:
    """The ``.warc.gz`` layout Common Crawl actually ships: each WARC
    record compressed as its OWN gzip member, members concatenated.
    ``mtime=0`` pins the gzip header so re-runs are byte-identical.
    Record construction is shared with :func:`make_warc_shard` (its
    plain stream re-framed by :func:`_split_records`), so the two
    formats can never drift on record contents."""
    import gzip

    plain = make_warc_shard(rows, shard)
    out = bytearray()
    for record in _split_records(plain):
        out += gzip.compress(record, compresslevel=6, mtime=0)
    return bytes(out)


def _split_records(payload: bytes) -> Iterator[bytes]:
    """Re-frame a plain WARC stream into its records (header block +
    Content-Length body + separator) — the writer-side complement of
    :func:`iter_response_records`'s walk, sharing its framing rules."""
    pos = 0
    n = len(payload)
    while pos < n:
        head_end = payload.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError("truncated WARC record header")
        length = None
        for line in payload[pos:head_end].decode("utf-8", "replace").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            if k.strip().lower() == "content-length":
                length = int(v.strip())
        if length is None:
            raise ValueError("WARC record missing Content-Length")
        rec_end = head_end + 4 + length + 4
        yield payload[pos:rec_end]
        pos = rec_end


def write_warc_gz_shards(docs: DataFrame, out_dir: str, *, n_shards: int = 8) -> None:
    """.warc.gz variant of :func:`write_warc_shards` (same
    executor-side, retry-safe, one-task-per-shard construction)."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opened: set[int] = set()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for shard, grp in pdf.groupby(pdf["doc_id"] % n_shards):
                shard = int(shard)
                rows = list(zip(grp["doc_id"].astype(int), grp["text"]))
                mode = "ab" if shard in opened else "wb"
                opened.add(shard)
                with open(os.path.join(out_dir, f"shard-{shard}.warc.gz"), mode) as f:
                    f.write(make_warc_gz_shard(rows, shard))
        yield pd.DataFrame({"n": []}, dtype="int64")

    (
        docs.select("doc_id", "text")
        .repartition(n_shards, F.col("doc_id") % n_shards)
        .mapInPandas(_write, schema="n long")
        .write.format("noop").mode("overwrite").save()
    )


def scan_warc_gz(spark, warc_dir: str) -> DataFrame:
    """Distributed ``.warc.gz`` scan: binaryFile distributes the shard
    listing (gzip is unsplittable — one task per shard, the
    scan_jsonl_gzip story), the kernel walks gzip MEMBERS (one record
    each, the random-access contract) and parses each member with the
    shared record framing. Projection identical to :func:`scan_warc`,
    so the two formats are drop-in interchangeable downstream."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls, mimes, digests, texts = [], [], [], []
            for content in pdf["content"]:
                for member in iter_gzip_members(bytes(content)):
                    for url, mime, body in iter_response_records(member):
                        urls.append(url)
                        mimes.append(mime)
                        digests.append(hashlib.sha256(body).hexdigest())
                        texts.append(body.decode("utf-8"))
            yield pd.DataFrame(
                {
                    "url": urls,
                    "mime": mimes,
                    "payload_sha256": digests,
                    "text": texts,
                }
            )

    shards = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(warc_dir)
        .select("content")
    )
    return shards.mapInPandas(_parse, schema=WARC_SCAN_SCHEMA)


# --- tar (USTAR) ingestion: the source-code-corpus container ------------------
# GitHub/software-heritage corpora arrive as tarballs; the 100 TB shape
# is identical to WARC (one archive = one scan task, members are
# length-framed with no mid-file sync point), so the same
# binaryFile -> Arrow-kernel plan applies.

#: Output schema of the tar scan: one row per regular-file member.
TAR_SCAN_SCHEMA = "name string, size long, payload_sha256 string, text string"


def _tar_octal(value: int, width: int) -> bytes:
    return f"{value:0{width - 1}o}".encode() + b"\x00"


def _tar_header(name: str, size: int, typeflag: bytes) -> bytes:
    """One 512-byte USTAR header: octal size/mode/mtime fields, the
    'ustar' magic, and the spec's checksum (byte sum of the header
    with the checksum field read as eight spaces, stored as six octal
    digits + NUL + space)."""
    name_b = name.encode()
    if len(name_b) > 100:
        raise ValueError("tar member name exceeds the 100-byte USTAR field")
    head = bytearray(512)
    head[0 : len(name_b)] = name_b
    head[100:108] = _tar_octal(0o644, 8)  # mode
    head[108:116] = _tar_octal(0, 8)  # uid
    head[116:124] = _tar_octal(0, 8)  # gid
    head[124:136] = _tar_octal(size, 12)
    head[136:148] = _tar_octal(0, 12)  # mtime (fixed: determinism)
    head[148:156] = b" " * 8  # checksum placeholder
    head[156:157] = typeflag
    head[257:263] = b"ustar\x00"
    head[263:265] = b"00"
    chksum = sum(head)
    head[148:156] = f"{chksum:06o}".encode() + b"\x00 "
    return bytes(head)


def tar_member_name(doc_id: int) -> str:
    return f"docs/{doc_id:08d}.txt"


def make_tar_shard(rows: list[tuple[int, str]]) -> bytes:
    """One deterministic USTAR archive: a directory member every 10th
    doc (typeflag '5', zero size — the skip case a naive reader trips
    over), then per document a regular-file member holding the utf-8
    text, data padded to 512-byte blocks, terminated by two zero
    blocks — the actual format, opens with any tar tool."""
    out = bytearray()
    for doc_id, text in rows:
        if doc_id % 10 == 0:
            out += _tar_header(f"docs/dir{doc_id:08d}/", 0, b"5")
        body = text.encode("utf-8")
        out += _tar_header(tar_member_name(doc_id), len(body), b"0")
        out += body
        if len(body) % 512:
            out += b"\x00" * (512 - len(body) % 512)
    out += b"\x00" * 1024
    return bytes(out)


def parse_tar(payload: bytes) -> list[tuple[str, int, str, str]]:
    """REAL USTAR walk: verify the magic and the spec checksum per
    header, parse octal sizes, skip non-file members by type, honor
    512-block data padding, stop at the zero-block terminator.
    Malformed structure (bad magic/checksum, non-octal size, truncated
    member) refuses with ValueError — the corrupt-crawl contract.
    Returns (name, size, payload_sha256, text) per regular file."""
    out = []
    pos = 0
    while pos + 512 <= len(payload):
        head = payload[pos : pos + 512]
        if head == b"\x00" * 512:
            break  # terminator
        if head[257:262] != b"ustar":
            raise ValueError("tar header is missing the ustar magic")
        stored = head[148:156]
        summed = sum(head[:148]) + 8 * 0x20 + sum(head[156:])
        try:
            chksum = int(stored.rstrip(b"\x00 ").lstrip(b" ") or b"0", 8)
            size = int(head[124:136].rstrip(b"\x00 ") or b"0", 8)
        except ValueError:
            raise ValueError("tar header carries a non-octal field") from None
        if chksum != summed:
            raise ValueError("tar header checksum mismatch")
        data = payload[pos + 512 : pos + 512 + size]
        if len(data) != size:
            raise ValueError("truncated tar member data")
        typeflag = head[156:157]
        if typeflag in (b"0", b"\x00"):
            name = head[0:100].rstrip(b"\x00").decode("utf-8", "strict")
            out.append(
                (
                    name,
                    size,
                    hashlib.sha256(data).hexdigest(),
                    data.decode("utf-8"),
                )
            )
        pos += 512 + size + ((512 - size % 512) % 512)
    else:
        raise ValueError("tar archive is missing its zero-block terminator")
    return out


def write_tar_shards(docs: DataFrame, out_dir: str, *, n_shards: int = 8) -> None:
    """Write the corpus as ``n_shards`` tar files, built executor-side
    (the write_warc_shards pattern: repartition on doc_id % n_shards,
    wb-on-first-touch so task retries rewrite cleanly)."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opened: set[int] = set()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for shard, grp in pdf.groupby(pdf["doc_id"] % n_shards):
                shard = int(shard)
                rows = list(zip(grp["doc_id"].astype(int), grp["text"]))
                mode = "ab" if shard in opened else "wb"
                opened.add(shard)
                with open(os.path.join(out_dir, f"shard-{shard}.tar"), mode) as f:
                    f.write(make_tar_shard(rows))
        yield pd.DataFrame({"n": []}, dtype="int64")

    (
        docs.select("doc_id", "text")
        .repartition(n_shards, F.col("doc_id") % n_shards)
        .mapInPandas(_write, schema="n long")
        .write.format("noop").mode("overwrite").save()
    )


def scan_tar(spark, tar_dir: str) -> DataFrame:
    """Distributed tar scan: ``binaryFile`` lists and distributes the
    archives (one task per file), the Arrow kernel walks each; only
    the extracted columns return to the JVM."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            names, sizes, digests, texts = [], [], [], []
            for content in pdf["content"]:
                for name, size, digest, text in parse_tar(bytes(content)):
                    names.append(name)
                    sizes.append(size)
                    digests.append(digest)
                    texts.append(text)
            yield pd.DataFrame(
                {
                    "name": names,
                    "size": sizes,
                    "payload_sha256": digests,
                    "text": texts,
                }
            )

    shards = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(tar_dir)
        .select("content")
    )
    return shards.mapInPandas(_parse, schema=TAR_SCAN_SCHEMA)
