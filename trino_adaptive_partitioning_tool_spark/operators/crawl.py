"""Web-crawl ingestion: WARC shard parsing and HTML text extraction.

The Common Crawl shape: a corpus arrives as ``.warc.gz`` shards where
EVERY record is its own gzip member (so byte-range requests can start
at any record), each record carrying WARC headers, an HTTP response
envelope, and the HTML payload. This module owns that ingestion path as
Arrow-batched Spark stages:

- ``synth_warc_shards``     deterministic multi-record .warc.gz shards
                            (md5-derived HTML, statuses, duplicates)
- ``parse_warc_records``    gzip-member walk -> WARC header parse ->
                            HTTP envelope parse -> one row per record
- ``extract_html_text``     stdlib-HTMLParser boilerplate strip:
                            script/style/comment/head excluded, block
                            tags break words, whitespace collapsed

Everything is stdlib (zlib/gzip + html.parser) — no network, no
external crawler deps — and deterministic, so DuckDB oracles re-derive
record counts, body lengths, word counts and a position-weighted
checksum of the extracted words purely arithmetically. The checksum is
the extraction-ORDER certificate: leaking script/style/comment text or
reordering paragraphs shifts word positions, which word counts and
means cannot see.

Reference parity: the reference tool (src/partitioning.py) has no
ingestion surface at all — this extends the LLM-data-pipeline layer the
multimodal/text modules established, per the extension contract in
BASELINE.json.

Scale notes (100 TB): shards are the unit of parallelism — one gzip
member walk per shard row inside mapInPandas, no driver-side state, no
shuffle until the downstream rollup. Record rows carry only parsed
fields plus the body bytes; a real deployment would project the body
away as soon as text is extracted (extract_html_text does exactly
that), so the wide binary column never crosses a shuffle.
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import rowmap

# -- deterministic shard synthesis --------------------------------------

RECORDS_PER_SHARD = 4

# paragraph line: "<p>" + 8 two-char words + 7 spaces + "</p>\n"
PARA_LINE_LEN = 3 + 8 * 2 + 7 + 4 + 1
# link line: '<a href="/l' k '">link ' word '</a>\n'
LINK_LINE_LEN = 11 + 1 + 2 + 5 + 2 + 4 + 1


def _doc_key(rid: int) -> int:
    """Content key for record rid. Every rid % 16 == 8 record reuses the
    rid - 8 document verbatim: an exact-duplicate pair (both members are
    status-200 because rid % 8 == 0 for both), feeding the dedup stage
    of the funnel."""
    return rid - 8 if rid % 16 == 8 else rid


def _status(rid: int) -> int:
    m = rid % 8
    if m == 6:
        return 404
    if m == 7:
        return 301
    return 200


def _pair(hx: str, i: int) -> str:
    """Two-hex-char word i (0..15) of an md5 hexdigest."""
    i %= 16
    return hx[2 * i : 2 * i + 2]


def synth_html(rid: int) -> bytes:
    """Deterministic HTML document for record rid. Body words are the
    md5(doc_key) hex pairs in cycle order; script/style/comment blocks
    carry DECOY hex pairs (digest positions 10-13) whose PAIR VALUES may
    legitimately also occur in body/link text (link words reuse pairs
    8..10) — the leak certificate is POSITIONAL, not value-exclusion: an
    extractor that emits a decoy inserts an extra word, which shifts
    every later word's position and breaks the oracle's
    position-weighted checksum regardless of the leaked value.
    Paragraph count P = pair15 % 3 + 2 and link count L = pair14 % 3
    give per-document structural variety the oracle re-derives from
    the digest."""
    key = _doc_key(rid)
    hx = hashlib.md5(str(key).encode()).hexdigest()
    p15 = int(_pair(hx, 15), 16)
    p14 = int(_pair(hx, 14), 16)
    n_paras = p15 % 3 + 2
    n_links = p14 % 3
    lines = [
        f"<html><head><title>doc{key:05d}</title>\n",
        f"<style>p{{margin:0}}/* {_pair(hx, 10)} {_pair(hx, 11)} */"
        "</style>\n",
        f"<script>// {_pair(hx, 8)} {_pair(hx, 9)}\nvar x=1;</script>\n",
        "</head><body>\n",
        f"<h1>doc {key:05d}</h1>\n",
        f"<!-- {_pair(hx, 12)} {_pair(hx, 13)} -->\n",
    ]
    for p in range(n_paras):
        words = " ".join(_pair(hx, p * 8 + w) for w in range(8))
        lines.append(f"<p>{words}</p>\n")
    for k in range(n_links):
        lines.append(f'<a href="/l{k}">link {_pair(hx, 8 + k)}</a>\n')
    lines.append("</body></html>")
    return "".join(lines).encode("ascii")


def synth_record(rid: int) -> bytes:
    """One WARC/1.0 response record (uncompressed) for record rid."""
    status = _status(rid)
    if status == 200:
        body = synth_html(rid)
        reason, ctype = "OK", "text/html; charset=utf-8"
        extra = ""
    elif status == 404:
        body = b"Not Found\n"
        reason, ctype = "Not Found", "text/plain"
        extra = ""
    else:
        body = b""
        reason, ctype = "Moved Permanently", "text/plain"
        extra = f"Location: http://example.com/doc{_doc_key(rid):05d}\r\n"
    http = (
        (
            f"HTTP/1.1 {status} {reason}\r\n"
            f"Content-Type: {ctype}\r\n"
            f"{extra}"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("ascii")
        + body
    )
    rec_id = hashlib.md5(f"record:{rid}".encode()).hexdigest()
    warc_header = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n"
        "WARC-Date: 2025-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: http://example.com/doc{rid:05d}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("ascii")
    return warc_header + http + b"\r\n\r\n"


SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_records", T.IntegerType(), False),
    ]
)


def synth_warc_shards(
    spark: SparkSession,
    n_shards: int = 64,
    partitions: int = 8,
    records_per_shard: int = RECORDS_PER_SHARD,
) -> DataFrame:
    """Deterministic .warc.gz shard table: shard s holds records
    [s*rps, (s+1)*rps) — each record its OWN gzip member (mtime pinned
    to 0), concatenated, exactly the Common Crawl layout. No RNG."""
    base = spark.range(0, n_shards, 1, partitions).select(
        F.col("id").alias("shard_id")
    )

    def encode(sid: int):
        members = [
            gzip.compress(synth_record(sid * records_per_shard + j), mtime=0)
            for j in range(records_per_shard)
        ]
        yield sid, b"".join(members), records_per_shard

    return rowmap.map_rows(base, SHARD_SCHEMA, encode)


# -- WARC parsing --------------------------------------------------------


def split_gzip_members(payload: bytes) -> list[bytes]:
    """Decompress a concatenated-gzip-member stream into one bytes blob
    per member — the WARC shard convention. Raises ValueError on any
    corruption or trailing garbage; never returns partial members."""
    members: list[bytes] = []
    buf = payload
    while buf:
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(buf)
            out += d.flush()
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member in WARC shard: {exc}")
        if not d.eof:
            raise ValueError("truncated gzip member in WARC shard")
        members.append(out)
        buf = d.unused_data
    return members


def parse_warc_record(record: bytes) -> dict:
    """Parse one uncompressed WARC record into its envelope fields and
    HTTP payload. Validates both Content-Length declarations — a length
    mismatch raises instead of mis-framing the body."""
    sep = record.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("WARC record missing header terminator")
    header, rest = record[:sep], record[sep + 4 :]
    lines = header.split(b"\r\n")
    if not lines[0].startswith(b"WARC/"):
        raise ValueError("missing WARC version line")
    fields: dict[str, str] = {}
    for line in lines[1:]:
        name, _, value = line.partition(b":")
        if not _:
            raise ValueError(f"malformed WARC header line: {line!r}")
        fields[name.strip().decode("ascii").lower()] = (
            value.strip().decode("ascii")
        )
    try:
        content_length = int(fields["content-length"])
    except (KeyError, ValueError):
        raise ValueError("WARC record missing valid Content-Length")
    http = rest[:content_length]
    if len(http) < content_length:
        raise ValueError("WARC Content-Length overruns record")
    if rest[content_length : content_length + 4] != b"\r\n\r\n":
        raise ValueError("WARC record missing trailing CRLF CRLF")
    status, http_ctype, body = 0, "", b""
    if fields.get("warc-type") == "response" and http[:5] == b"HTTP/":
        hsep = http.find(b"\r\n\r\n")
        if hsep < 0:
            raise ValueError("HTTP envelope missing header terminator")
        hlines = http[:hsep].split(b"\r\n")
        parts = hlines[0].split(b" ", 2)
        if len(parts) < 2:
            raise ValueError("malformed HTTP status line")
        status = int(parts[1])
        hfields: dict[str, str] = {}
        for line in hlines[1:]:
            name, _, value = line.partition(b":")
            hfields[name.strip().decode("ascii").lower()] = (
                value.strip().decode("ascii")
            )
        body = http[hsep + 4 :]
        declared = hfields.get("content-length")
        if declared is not None and int(declared) != len(body):
            raise ValueError("HTTP Content-Length mismatch")
        http_ctype = hfields.get("content-type", "")
    return {
        "warc_type": fields.get("warc-type", ""),
        "uri": fields.get("warc-target-uri", ""),
        "status": status,
        "content_type": http_ctype,
        "body": body,
        "record_bytes": len(record),
    }


RECORD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("record_idx", T.IntegerType(), False),
        T.StructField("warc_type", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("body", T.BinaryType(), False),
        T.StructField("body_bytes", T.LongType(), False),
        T.StructField("record_bytes", T.LongType(), False),
    ]
)


def parse_warc_records(shards: DataFrame) -> DataFrame:
    """Arrow-batched WARC ingestion stage: one input row per .warc.gz
    shard, one output row per record. The gzip-member walk, WARC header
    parse and HTTP envelope parse all happen executor-side; nothing
    shuffles and nothing touches the driver."""

    def parse(sid: int, payload: bytes):
        for idx, member in enumerate(split_gzip_members(payload)):
            rec = parse_warc_record(member)
            yield (
                sid, idx, rec["warc_type"], rec["uri"], rec["status"],
                rec["content_type"], rec["body"], len(rec["body"]),
                rec["record_bytes"],
            )

    return rowmap.map_rows(
        shards.select("shard_id", "payload"), RECORD_SCHEMA, parse
    )


# -- HTML text extraction ------------------------------------------------

_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol br tr table td th section article "
    "header footer blockquote pre".split()
)


class _TextExtractor(HTMLParser):
    """Boilerplate-stripping text extractor: collects character data
    inside <body> only, skips <script>/<style> subtrees entirely,
    ignores comments (HTMLParser drops them unless handled), captures
    <title> separately, counts links, and breaks words at block tags so
    adjacent blocks never fuse into one token."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.title_parts: list[str] = []
        self.n_links = 0
        self._skip_depth = 0
        self._in_body = False
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style"):
            self._skip_depth += 1
        elif tag == "body":
            self._in_body = True
        elif tag == "title":
            self._in_title = True
        elif tag == "a" and self._in_body:
            self.n_links += 1
        if tag in _BLOCK_TAGS:
            self.parts.append(" ")

    def handle_endtag(self, tag):
        if tag in ("script", "style"):
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "body":
            self._in_body = False
        elif tag == "title":
            self._in_title = False
        if tag in _BLOCK_TAGS:
            self.parts.append(" ")

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
        elif self._in_body:
            self.parts.append(data)


def extract_text(html: bytes) -> tuple[str, str, int]:
    """(title, text, n_links) for one HTML document: whitespace-
    collapsed body text with script/style/comment content excluded."""
    p = _TextExtractor()
    p.feed(html.decode("utf-8", errors="replace"))
    p.close()
    title = " ".join("".join(p.title_parts).split())
    text = " ".join("".join(p.parts).split())
    return title, text, p.n_links


def _extracted(html: bytes) -> tuple[str, str, int, int]:
    """(title, text, n_words, n_links): the extraction stage's fields."""
    title, text, n_links = extract_text(html)
    return title, text, len(text.split()), n_links


EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("record_idx", T.IntegerType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("n_words", T.IntegerType(), False),
        T.StructField("n_links", T.IntegerType(), False),
    ]
)


FUNNEL_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("record_idx", T.IntegerType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_words", T.IntegerType(), True),
        T.StructField("n_links", T.IntegerType(), True),
    ]
)


def extract_html_text(
    records: DataFrame, include_non_html: bool = False
) -> DataFrame:
    """HTML -> text extraction stage over parsed WARC records. By
    default filters to successful text/html responses DECLARATIVELY
    (pushable Column predicates) before the Python stage; with
    include_non_html=True it instead carries EVERY record through with
    status attached and null extraction fields for non-HTML rows — the
    single-pass shape crawl_corpus_funnel needs (a record-grain join of
    records against their own extraction re-runs the WARC parse twice).
    Either way the binary body is projected away in the same stage that
    consumes it — the wide column never survives past extraction.

    The two modes emit distinct mapInPandas schemas: the default keeps
    the original EXTRACT_SCHEMA contract (no status column; title/text/
    n_words/n_links non-nullable — every row passed the HTML filter),
    the funnel mode carries status and nullable extraction fields for
    the rows that didn't, so the default path never weakens its
    nullability contract."""
    is_html = (F.col("status") == 200) & F.col(
        "content_type"
    ).startswith("text/html")
    if include_non_html:
        base = records.select(
            "shard_id", "record_idx", "status", "uri", "body",
            is_html.alias("parse_me"),
        )

        def extract(sid, idx, status, uri, body, parse_me):
            fields = _extracted(body) if parse_me else (None,) * 4
            yield (sid, idx, status, uri, *fields)

        return rowmap.map_rows(base, FUNNEL_EXTRACT_SCHEMA, extract)

    base = records.filter(is_html).select(
        "shard_id", "record_idx", "uri", "body"
    )

    def extract_html(sid, idx, uri, body):
        yield (sid, idx, uri, *_extracted(body))

    return rowmap.map_rows(base, EXTRACT_SCHEMA, extract_html)
