"""WARC source: read Common-Crawl-style WARC files into the web_pages
schema.

A minimal, dependency-free WARC/1.0 reader (ISO 28500 record framing:
``WARC/1.0\\r\\n`` header block, ``\\r\\n\\r\\n`` separator, payload of
``Content-Length`` bytes, ``\\r\\n\\r\\n`` trailer). Only
``WARC-Type: response`` records become rows; the HTTP header block in
the payload is stripped, the remaining body is the page html.

Distributed shape: ``spark.read.format("binaryFile")`` lists and
splits *files* across executors, and the parse runs per file inside
``mapInArrow`` — each WARC file is one row in, many page rows out.
WARC files are sized ~1 GB by convention, so file-granular
parallelism is the natural partitioning; text extraction is a real
dependency-free HTML→text pass (``extract_text``): skip-subtree
handling for script/style/head, entity decoding, block-level newline
structure, per-line whitespace normalization.

``write_warc`` exists so tests can round-trip: generator pages →
WARC bytes → this reader → identical rows.
"""

from __future__ import annotations

import io
from datetime import datetime
from typing import List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"


def _parse_warc_bytes(data: bytes) -> List[dict]:
    """Pure core: WARC bytes → list of page dicts."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        header_blob = data[pos:head_end].decode("utf-8", "replace")
        headers = {}
        for line in header_blob.split("\r\n")[1:]:  # first line = WARC/1.0
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        length = int(headers.get("content-length", "0"))
        payload = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length + 4  # skip payload + record trailer

        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts_raw = headers.get("warc-date", "1970-01-01T00:00:00Z")
        ts = datetime.fromisoformat(ts_raw.replace("Z", "+00:00")).replace(tzinfo=None)
        # strip the HTTP response header block if present
        http_end = payload.find(b"\r\n\r\n")
        body = payload[http_end + 4 :] if http_end >= 0 else payload
        out.append({"url": url, "warc_ts": ts, "html": body})
    return out


_SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "head", "title", "svg", "iframe"}
)
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "br", "li", "ul", "ol", "dl", "dt", "dd",
        "h1", "h2", "h3", "h4", "h5", "h6",
        "tr", "td", "th", "table", "thead", "tbody",
        "section", "article", "aside", "header", "footer", "nav", "main",
        "blockquote", "pre", "figure", "figcaption", "hr", "form",
    }
)


def extract_text(html: bytes) -> str:
    """Real, dependency-free HTML→text extraction (stdlib html.parser):

    * script/style/head/template/svg/iframe subtrees are dropped;
    * character/entity references are decoded (&amp;, &#x27;, …);
    * block-level tag boundaries become newlines, inline tags nothing;
    * whitespace is normalized per line (runs → one space), empty lines
      dropped, lines joined with single newlines.

    Pure and deterministic — the north-rule "byte-identical extracted
    text per url" invariant binds to THIS function; the WARC reader,
    the tests, and any oracle all call the same core. Malformed HTML
    never raises (the parser is resynchronizing by design); bytes are
    decoded utf-8 with replacement.
    """
    from html.parser import HTMLParser

    class _Extractor(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.parts: List[str] = []
            self._skip = 0

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP_TAGS:
                self._skip += 1
            elif tag in _BLOCK_TAGS:
                self.parts.append("\n")

        def handle_startendtag(self, tag, attrs):
            if tag in _BLOCK_TAGS:
                self.parts.append("\n")

        def handle_endtag(self, tag):
            if tag in _SKIP_TAGS and self._skip > 0:
                self._skip -= 1
            elif tag in _BLOCK_TAGS:
                self.parts.append("\n")

        def handle_data(self, data):
            if not self._skip:
                self.parts.append(data)

    p = _Extractor()
    p.feed(html.decode("utf-8", "replace"))
    p.close()
    lines = []
    for raw_line in "".join(p.parts).split("\n"):
        line = " ".join(raw_line.split())
        if line:
            lines.append(line)
    return "\n".join(lines)


def read_warc(
    spark: SparkSession, path: str, lang_default: str = ""
) -> DataFrame:
    """WARC files at ``path`` → DataFrame(url, warc_ts, html, text, lang);
    ``warc_ts`` is the record's ``WARC-Date``, in UTC."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    files = spark.read.format("binaryFile").load(path).select("content")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    arrow_schema = to_arrow_schema(T.StructType.fromDDL(schema))

    def parse(batches):
        for b in batches:
            rows = [
                {**rec, "text": extract_text(rec["html"]), "lang": lang_default}
                for blob in b.column(0).to_pylist()
                for rec in _parse_warc_bytes(blob)
            ]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return files.mapInArrow(parse, schema=schema)


def warc_record(url: str, ts: datetime, html: bytes) -> bytes:
    """One WARC/1.0 response record (for tests / round-trips)."""
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        f"Content-Length: {len(http)}\r\n"
    ).encode()
    # header lines already end with \r\n; one more = the blank separator
    return headers + b"\r\n" + http + b"\r\n\r\n"


def write_warc(rows: List[Tuple[str, datetime, bytes]], path: str) -> None:
    with open(path, "wb") as f:
        for url, ts, html in rows:
            f.write(warc_record(url, ts, html))
