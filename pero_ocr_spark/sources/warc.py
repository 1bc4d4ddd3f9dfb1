"""WARC container source — web-archive record framing for the ingest
tier.

The reference engine consumes a folder of page images
(``user_scripts/parse_folder.py:297-303``); the 100 TB analog of "the
folder" for a web-extraction pipeline is a WARC archive (ISO 28500 —
the Common Crawl container): length-framed response records, each a
WARC header block plus a captured HTTP message. This module
synthesizes deterministic WARC shards from the corpus tables and
parses them back, feeding the existing DOM-extraction pipeline
(operators/html.py), so the whole web path is container → record
framing → HTTP parse → boilerplate strip → interleaved spans.

Parsing is **length-framed, never delimiter-split**: records are
walked by ``Content-Length`` exactly as real WARC readers do, so a
body that happens to contain ``WARC/1.0`` or a header-terminator
sequence parses intact (tested). A naive ``split(b"WARC/1.0")``
corrupts such records — the kind of bug that appears once per billion
pages, i.e. several thousand times at corpus scale.

Scale shape: shard synthesis is a carry-free ``grouped_map_in_pandas``
stage per shard group (numbered repartition); parsing is a stateless
``mapInPandas`` over (shard_id, warc) rows — shards are independent,
so the stage scales with shard count and no record ever crosses a
task boundary (WARC's design property).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pero_ocr_spark.operators import flat_map_in_pandas, grouped_map_in_pandas

WARC_DATE = "2026-01-01T00:00:00Z"   # deterministic capture timestamp
_REASON = {200: "OK", 404: "Not Found", 301: "Moved Permanently"}


def build_warc_shard(records, gzip_members: bool = False) -> bytes:
    """``[(doc_id, url, status, body_str), …]`` → one WARC shard.

    Each record: WARC/1.0 header block (Content-Length = byte length
    of the captured HTTP message), then the HTTP response, then the
    record separator CRLF CRLF.

    ``gzip_members=True`` emits the Common Crawl ``.warc.gz``
    convention: each record is its own gzip member and the shard is
    the member concatenation — readers can seek to any member and
    decompress one record without touching the rest (the property
    that makes .warc.gz splittable by offset index at corpus scale).
    """
    out = bytearray()
    for rec in records:
        out += _encode_record(rec, gzip_members)
    return bytes(out)


def _encode_record(rec, gzip_member: bool) -> bytes:
    doc_id, url, status, body = rec[:4]
    location = rec[4] if len(rec) > 4 else ""
    body_b = body.encode("utf-8")
    status = int(status)
    loc_hdr = f"Location: {location}\r\n" if location else ""
    http = (
        f"HTTP/1.1 {status} {_REASON.get(status, 'OK')}\r\n"
        f"Content-Type: text/html; charset=utf-8\r\n"
        f"{loc_hdr}"
        f"Content-Length: {len(body_b)}\r\n\r\n"
    ).encode("ascii") + body_b
    raw = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: "
        f"<urn:uuid:00000000-0000-0000-0000-{int(doc_id):012d}>\r\n"
        f"WARC-Date: {WARC_DATE}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("ascii") + http + b"\r\n\r\n"
    if not gzip_member:
        return raw
    # one gzip member per record, deterministic bytes (mtime pinned)
    import gzip as _gzip
    import io

    sink = io.BytesIO()
    with _gzip.GzipFile(fileobj=sink, mode="wb", mtime=0) as gz:
        gz.write(raw)
    return sink.getvalue()


def parse_warc_shard(buf: bytes):
    """Length-framed record walk → ``[(rec_index, doc_id, url, status,
    content_type, location, body_str), …]``.

    A shard starting with the gzip magic is treated as a member
    concatenation (the ``.warc.gz`` convention): members are walked
    one at a time via the decompressor's ``unused_data`` handoff —
    never by searching the compressed bytes for a delimiter — and the
    records they contain are re-indexed sequentially, so plain and
    gzipped shards parse identically.
    """
    if buf[:2] == b"\x1f\x8b":
        import zlib

        out, pos, idx = [], 0, 0
        view = memoryview(buf)
        while pos < len(buf):
            d = zlib.decompressobj(wbits=31)
            raw = d.decompress(view[pos:])
            if not d.eof:
                raise ValueError(f"truncated gzip member at offset {pos}")
            pos = len(buf) - len(d.unused_data)
            for rec in parse_warc_shard(raw):
                out.append((idx,) + rec[1:])
                idx += 1
        return out
    out, pos, idx = [], 0, 0
    n = len(buf)
    while pos < n:
        hdr_end = buf.index(b"\r\n\r\n", pos)
        lines = buf[pos:hdr_end].decode("utf-8").split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line at offset {pos}")
        fields = dict(ln.split(": ", 1) for ln in lines[1:])
        clen = int(fields["Content-Length"])
        block = buf[hdr_end + 4 : hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen + 4          # skip the record separator

        rid = fields["WARC-Record-ID"]
        doc_id = int(rid[rid.rindex("-") + 1 : -1])
        http_end = block.index(b"\r\n\r\n")
        http_lines = block[:http_end].decode("utf-8").split("\r\n")
        status = int(http_lines[0].split(" ")[1])
        hfields = dict(ln.split(": ", 1) for ln in http_lines[1:])
        body = block[http_end + 4 :].decode("utf-8")
        out.append(
            (idx, doc_id, fields["WARC-Target-URI"], status,
             hfields.get("Content-Type", ""), hfields.get("Location", ""),
             body)
        )
        idx += 1
    return out


def index_warc_shard(buf: bytes):
    """CDX-style offset index → ``[(rec_index, doc_id, url, status,
    offset, length), …]``.

    ``offset``/``length`` frame the record *within the shard*: for a
    gzip-member shard the compressed member bytes, for a plain shard
    the framed record including its separator — in both cases
    ``buf[offset : offset + length]`` parses standalone. This is the
    web-archive random-access contract (the CDX(J) index that makes a
    petabyte of ``.warc.gz`` seekable: readers fetch one record by
    byte range instead of streaming the shard)."""
    out = []
    if buf[:2] == b"\x1f\x8b":
        import zlib

        pos, idx = 0, 0
        view = memoryview(buf)
        while pos < len(buf):
            d = zlib.decompressobj(wbits=31)
            raw = d.decompress(view[pos:])
            if not d.eof:
                raise ValueError(f"truncated gzip member at offset {pos}")
            end = len(buf) - len(d.unused_data)
            for _, doc_id, url, status, *_rest in parse_warc_shard(raw):
                out.append((idx, doc_id, url, status, pos, end - pos))
                idx += 1
            pos = end
        return out
    pos = 0
    for idx, (rec, nxt) in enumerate(
        zip(recs := parse_warc_shard(buf), _record_ends(buf))
    ):
        out.append((idx, rec[1], rec[2], rec[3], pos, nxt - pos))
        pos = nxt
    assert len(out) == len(recs)
    return out


def _record_ends(buf: bytes):
    """End offset of each framed record (separator included)."""
    pos, n = 0, len(buf)
    while pos < n:
        hdr_end = buf.index(b"\r\n\r\n", pos)
        hdr = buf[pos:hdr_end].decode("utf-8")
        clen = int(
            next(
                ln.split(": ", 1)[1]
                for ln in hdr.split("\r\n")
                if ln.startswith("Content-Length: ")
            )
        )
        pos = hdr_end + 4 + clen + 4
        yield pos


# ------------------------------------------------------------- Spark stages

_SHARD_SCHEMA = StructType([
    StructField("shard_id", LongType()),
    StructField("warc", BinaryType()),
    StructField("n_records", LongType()),
    StructField("n_bytes", LongType()),
])

_REC_SCHEMA = StructType([
    StructField("shard_id", LongType()),
    StructField("rec_index", LongType()),
    StructField("doc_id", LongType()),
    StructField("url", StringType()),
    StructField("status", LongType()),
    StructField("content_type", StringType()),
    StructField("location", StringType()),
    StructField("body", StringType()),
])


def capture_table(
    pages: DataFrame, with_redirects: bool = False, n_docs: int | None = None
) -> DataFrame:
    """(doc_id, html) + documents.source → the deterministic capture:
    ``url = https://{source}.example.com/doc/{doc_id}``; every 50th
    doc (doc_id % 50 == 7) was a 404 with an empty body.

    ``with_redirects=True`` adds the 301 branch: docs with
    ``doc_id % 40 ∈ {3, 10, 17}`` are redirects to ``(doc_id+7) mod
    n_docs`` via a Location header — residues chosen so chains of
    length 1, 2 and 3 all occur (17→24 resolves, 10→17→24, 3→10→17→24)
    and every chain terminates."""
    is404 = F.col("doc_id") % 50 == 7
    url = F.concat(
        F.lit("https://"), F.col("source"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
    )
    if not with_redirects:
        return pages.select(
            "doc_id",
            url.alias("url"),
            F.when(is404, F.lit(404)).otherwise(F.lit(200)).cast("long").alias("status"),
            F.when(is404, F.lit("")).otherwise(F.col("html")).alias("body"),
            F.lit("").alias("location"),
        )
    if n_docs is None:
        raise ValueError("with_redirects=True requires n_docs")
    is301 = (F.col("doc_id") % 40).isin(3, 10, 17)
    target = (F.col("doc_id") + 7) % n_docs
    # Location must be the TARGET doc's url, whose host comes from the
    # target's source — join the (doc_id, source) pairs back on target
    hosts = pages.select(
        F.col("doc_id").alias("t_id"), F.col("source").alias("t_source")
    )
    cap = pages.withColumn("t_id", target).join(F.broadcast(hosts), "t_id")
    loc = F.concat(
        F.lit("https://"), F.col("t_source"),
        F.lit(".example.com/doc/"), F.col("t_id").cast("string"),
    )
    return cap.select(
        "doc_id",
        url.alias("url"),
        F.when(is301, F.lit(301))
        .when(is404, F.lit(404))
        .otherwise(F.lit(200)).cast("long").alias("status"),
        F.when(is301 | is404, F.lit("")).otherwise(F.col("html")).alias("body"),
        F.when(is301, loc).otherwise(F.lit("")).alias("location"),
    )


def synthesize_warc_shards(
    captures: DataFrame, n_shards: int = 32, gzip_members: bool = False
) -> DataFrame:
    """(doc_id, url, status, body) → one WARC blob per shard
    (``shard = doc_id % n_shards``), records ordered by doc_id.
    ``gzip_members=True`` → the ``.warc.gz`` member-per-record form."""

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        loc = (
            pdf["location"] if "location" in pdf.columns
            else [""] * len(pdf)
        )
        blob = build_warc_shard(
            list(zip(pdf["doc_id"], pdf["url"], pdf["status"], pdf["body"], loc)),
            gzip_members=gzip_members,
        )
        return pd.DataFrame({
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "warc": [blob],
            "n_records": [len(pdf)],
            "n_bytes": [len(blob)],
        })

    return grouped_map_in_pandas(
        captures.withColumn("shard_id", (F.col("doc_id") % n_shards).cast("long")),
        "shard_id", per_shard, _SHARD_SCHEMA,
    )


def parse_warc_records(shards: DataFrame) -> DataFrame:
    """(shard_id, warc) → one row per archived HTTP response."""

    def per_row(sid, blob):
        for rec in parse_warc_shard(bytes(blob)):
            yield int(sid), *rec

    return flat_map_in_pandas(
        shards.select("shard_id", "warc"), per_row, _REC_SCHEMA
    )


_CDX_SCHEMA = StructType([
    StructField("shard_id", LongType()),
    StructField("rec_index", LongType()),
    StructField("doc_id", LongType()),
    StructField("url", StringType()),
    StructField("status", LongType()),
    StructField("rec_offset", LongType()),
    StructField("rec_length", LongType()),
    StructField("verified", LongType()),
])


def cdx_index(shards: DataFrame) -> DataFrame:
    """(shard_id, warc) → CDX offset index, one row per record, each
    entry independently VERIFIED by re-parsing only its byte slice
    (``verified=1`` iff the slice yields exactly that record) — the
    property a downstream range-fetch reader depends on. Stateless
    ``mapInPandas``; scales with shard count like the record parse."""

    def per_row(sid, blob):
        buf = bytes(blob)
        for idx, doc_id, url, status, off, length in index_warc_shard(buf):
            sliced = parse_warc_shard(buf[off : off + length])
            ok = len(sliced) == 1 and sliced[0][1] == doc_id
            yield int(sid), idx, doc_id, url, status, off, length, int(ok)

    return flat_map_in_pandas(
        shards.select("shard_id", "warc"), per_row, _CDX_SCHEMA
    )


def resolve_redirects(recs: DataFrame, max_hops: int = 4) -> DataFrame:
    """Follow 301 chains through the archive by URL (the way a crawl
    post-processor does — no id arithmetic): each hop is one left
    equi-join of the frontier's Location against the record table's
    Target-URI. Bounded unrolled hops keep the plan finite; a chain
    still pointing at a 301 (or at a URL missing from the capture)
    after ``max_hops`` is flagged unresolved.

    Scale shape: ``max_hops`` shuffle joins on the url key, each
    touching only still-redirecting rows (the frontier shrinks every
    hop); nothing is broadcast — both sides are corpus-sized."""
    targets = recs.select(
        F.col("url").alias("t_url"),
        F.col("status").alias("t_status"),
        F.col("location").alias("t_location"),
    )
    cur = recs.select(
        "doc_id",
        F.col("url").alias("start_url"),
        F.col("url").alias("final_url"),
        F.col("status").alias("final_status"),
        "location",
        F.lit(0).alias("hops"),
    )
    for _ in range(max_hops):
        follow = (F.col("final_status") == 301) & (F.col("location") != "")
        hit = follow & F.col("t_url").isNotNull()
        cur = (
            cur.join(targets, cur["location"] == targets["t_url"], "left")
            .select(
                "doc_id",
                "start_url",
                F.when(hit, F.col("t_url"))
                .otherwise(F.col("final_url")).alias("final_url"),
                F.when(hit, F.col("t_status"))
                .otherwise(F.col("final_status")).alias("final_status"),
                F.when(hit, F.col("t_location"))
                .otherwise(F.when(follow, F.lit("")).otherwise(F.col("location")))
                .alias("location"),
                (F.col("hops") + F.when(hit, 1).otherwise(0)).alias("hops"),
            )
        )
    return cur.select(
        "doc_id",
        "start_url",
        "final_url",
        "final_status",
        F.col("hops").cast("long").alias("hops"),
        (F.col("final_status") != 301).alias("resolved"),
    )


# ------------------------------------------------------------ robots.txt

def synth_robots(docs: DataFrame) -> DataFrame:
    """Deterministic per-host robots.txt: hosts whose source index is
    ≡ 0 (mod 5) disallow ``/doc/`` for everyone (full block), hosts
    ≡ 2 (mod 5) disallow only doc paths ending in an odd id via the
    crawl convention ``Disallow: /doc/*1$``-style rules — expressed
    here as the parsed rule table (host, rule_kind) the way a fetcher
    caches robots after parsing, since rule semantics, not file
    syntax, are what the filter applies at scale."""
    src_idx = F.regexp_extract("source", r"(\d+)$", 1).cast("long")
    return docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        src_idx.alias("src_idx"),
    ).distinct().select(
        "host",
        F.when(F.col("src_idx") % 5 == 0, F.lit("disallow_all"))
        .when(F.col("src_idx") % 5 == 2, F.lit("disallow_odd"))
        .otherwise(F.lit("allow")).alias("rule"),
    )


def robots_filter(captures: DataFrame, robots: DataFrame) -> DataFrame:
    """Apply parsed robots rules to the capture table: the rule table
    is host-sized (~10^7 rows at corpus scale), so it broadcasts; the
    capture side never shuffles. Emits every capture with its verdict
    — downstream fetch/extract stages filter on ``allowed``."""
    doc_part = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    joined = captures.withColumn("host", host).join(
        F.broadcast(robots), "host", "left"
    )
    allowed = (
        F.when(F.col("rule") == "disallow_all", F.lit(False))
        .when((F.col("rule") == "disallow_odd") & (doc_part % 2 == 1), F.lit(False))
        .otherwise(F.lit(True))
    )
    return joined.select(
        "doc_id", "url", "host",
        F.coalesce(F.col("rule"), F.lit("allow")).alias("rule"),
        allowed.alias("allowed"),
    )


# ------------------------------------------------------------ sitemaps

SITEMAP_MAX_URLS = 50_000  # the sitemap spec's per-file URL cap


def synth_sitemaps(docs: DataFrame) -> DataFrame:
    """Deterministic sitemap XML: one ``<urlset>`` per (host, shard)
    listing up to :data:`SITEMAP_MAX_URLS` doc URLs with ``<lastmod>``
    (day = doc_id % 28 + 1) and ``<priority>`` (0.9 for
    doc_id % 10 == 0 landing pages, 0.5 otherwise). ONE (host, shard)
    shuffle with sorted-struct assembly; the shard key is
    ``doc_id // 50k``, the sitemap SPEC's own per-file cap — which is
    also exactly what bounds the reassembled row at scale: a 10^7-page
    host produces ~200 spec-compliant shard files (the
    ``<sitemapindex>`` pattern), never one giant row."""
    host = F.concat(F.col("source"), F.lit(".example.com"))
    # shard by the host's OWN url position, not the global id range: a
    # 40k-page host gets ONE spec-compliant file however its ids
    # scatter across the corpus id space; a global doc_id // 50k key
    # would shard by id-range and emit near-empty files
    shard = F.floor(
        (F.row_number().over(Window.partitionBy(host).orderBy("doc_id")) - 1)
        / SITEMAP_MAX_URLS
    ).cast("int")
    url = F.concat(
        F.lit("https://"), host, F.lit("/doc/"), F.col("doc_id").cast("string")
    )
    entry = F.concat(
        F.lit("<url><loc>"), url, F.lit("</loc><lastmod>"),
        F.format_string("2024-01-%02d", (F.col("doc_id") % 28 + 1).cast("int")),
        F.lit("</lastmod><priority>"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("0.9")).otherwise(F.lit("0.5")),
        F.lit("</priority></url>"),
    )
    per_host = docs.select(
        host.alias("host"), shard.alias("shard"),
        F.struct(F.col("doc_id"), entry.alias("e")).alias("s"),
    ).groupBy("host", "shard").agg(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?>'),
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s")), lambda s: s["e"]
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    return per_host.drop("shard")


_SITEMAP_SCHEMA = (
    "host string, url string, lastmod string, priority double"
)


def parse_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """(host, xml) → one row per ``<url>`` entry, REAL XML parse
    (stdlib ElementTree, namespace-aware) in one narrow mapInPandas
    stage — no shuffle; the XML never leaves the stage. Missing
    optional elements surface as nulls, a torn or invalid sitemap
    contributes ONE (host, null-url) quarantine marker row (observable
    loss, filtered by verdicts), and a junk ``<priority>`` nulls out —
    fetched input degrades, it never kills the job."""
    from xml.etree import ElementTree

    NS = "{http://www.sitemaps.org/schemas/sitemap/0.9}"

    def per_row(host_val, xml):
        try:
            root = ElementTree.fromstring(xml)
        except ElementTree.ParseError:
            # degrade observably: a (host, null-url) marker row
            # records that this shard was torn — downstream
            # verdicts filter null urls, monitors count them
            yield host_val, None, None, None
            return
        for u in root.iter(f"{NS}url"):
            loc = u.find(f"{NS}loc")
            lastmod = u.find(f"{NS}lastmod")
            prio = u.find(f"{NS}priority")
            try:
                pv = float(prio.text) if prio is not None else None
            except (TypeError, ValueError):
                pv = None  # '<priority>high</priority>' -> null
            yield (
                host_val,
                loc.text if loc is not None else None,
                lastmod.text if lastmod is not None else None,
                pv,
            )

    return flat_map_in_pandas(
        sitemaps.select("host", "xml"), per_row, _SITEMAP_SCHEMA
    )


def sitemap_recrawl_verdicts(
    entries: DataFrame, seen: DataFrame
) -> DataFrame:
    """Sitemap entries × crawl ledger → per-URL recrawl verdict:
    ``new`` (never fetched), ``changed`` (lastmod after the recorded
    fetch), ``fresh`` (no action). ``seen`` is (url, fetched_at
    'YYYY-MM-DD'). One equi-join on url — the ledger is corpus-sized,
    so nothing broadcasts by requirement and both sides hash-exchange
    on the join key once.

    This is what makes sitemap ingest the cheap half of recrawl at
    100 TB: the fetch queue becomes O(new + changed), not O(known
    URLs) — the crawler re-fetches what sites DECLARE changed and
    discovers additions without a single speculative fetch. Torn-shard
    quarantine markers (null url) are dropped here — they are loss
    accounting, not fetch work."""
    j = entries.filter(F.col("url").isNotNull()).join(seen, "url", "left")
    status = (
        F.when(F.col("fetched_at").isNull(), F.lit("new"))
        .when(F.col("lastmod") > F.col("fetched_at"), F.lit("changed"))
        .otherwise(F.lit("fresh"))
    )
    return j.select("host", "url", "lastmod", "priority",
                    status.alias("status"))


# ------------------------------------------------- robots.txt (raw format)

def synth_robots_txt(docs: DataFrame) -> DataFrame:
    """Deterministic RAW robots.txt bodies per host (upgrades the
    pre-parsed rule table of :func:`synth_robots` to the real file
    format): hosts ≡0 (mod 5) block ``/doc/`` but carve out
    ``/doc/open/`` (exercises longest-match-allow-wins), ≡2 block
    ``*2$``-pattern doc pages (wildcard + end anchor), ≡1 publish only
    a ``badbot`` group (no ``*`` group → everything allowed for us),
    the rest publish an empty file. Comments, blank lines, and a
    Crawl-delay are sprinkled in so the parser earns its keep."""
    src_idx = F.regexp_extract("source", r"(\d+)$", 1).cast("long")
    g = src_idx % 5
    body = (
        F.when(g == 0, F.lit(
            "# corpus robots\nUser-agent: *\nCrawl-delay: 2\n"
            "Disallow: /doc/\nAllow: /doc/open/\n"
        ))
        .when(g == 2, F.lit("User-agent: *\nDisallow: /doc/*2$\n"))
        .when(g == 1, F.lit("User-agent: badbot\nDisallow: /\n"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        body.alias("body"),
    ).distinct()


_ROBOTS_RULE_SCHEMA = (
    "host string, agent string, is_allow boolean, pattern string, "
    "pattern_re string, plen int"
)


def parse_robots_txt(robots: DataFrame) -> DataFrame:
    """(host, body) → one row per (agent, allow|disallow, pattern)
    with the pattern pre-compiled to a regex (``*`` → ``.*``, trailing
    ``$`` stays an anchor, everything else escaped) and its length for
    longest-match ranking. RFC 9309-lite group semantics: consecutive
    ``User-agent`` lines open ONE group whose rules apply to all of
    them; comments and blank lines ignored; unknown directives
    (Crawl-delay, Sitemap) skipped; empty patterns emit no rule. One
    narrow mapInPandas pass over the host-bounded robots table."""
    import re as _re

    def pattern_re(p: str) -> str:
        anchored = p.endswith("$")
        if anchored:
            p = p[:-1]
        return (
            "^" + ".*".join(_re.escape(seg) for seg in p.split("*"))
            + ("$" if anchored else "")
        )

    def per_row(host_val, body):
        agents: list[str] = []
        in_group_rules = False
        for raw in (body or "").splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, _, val = line.partition(":")
            key, val = key.strip().lower(), val.strip()
            if key == "user-agent":
                if in_group_rules:
                    agents = []
                    in_group_rules = False
                agents.append(val.lower())
            elif key in ("allow", "disallow"):
                in_group_rules = True
                if not val:
                    continue  # empty pattern matches nothing
                for a in agents:
                    yield (host_val, a, key == "allow", val,
                           pattern_re(val), len(val))
            # anything else (crawl-delay, sitemap, ...) skipped

    return flat_map_in_pandas(
        robots.select("host", "body"), per_row, _ROBOTS_RULE_SCHEMA
    )


def robots_verdicts(
    urls: DataFrame, rules: DataFrame, agent: str = "*"
) -> DataFrame:
    """(doc_id, host, path) × parsed rules → per-URL fetch verdict
    with Google/RFC 9309 matching: the group is the requested agent's
    if the host publishes one, else ``*``; among matching rules the
    LONGEST pattern wins and allow beats disallow on ties; no group or
    no match → allowed.

    Scale shape: rule-group selection is an aggregation of the
    host-bounded rules table (~10 rows/host at 10^7 hosts —
    broadcastable); the URL side joins it once and multiplies only by
    rules-per-host before ONE doc-keyed argmax. The per-row regex
    match costs a compiled-pattern cache hit per rule, not a Python
    call."""
    has_specific = F.max((F.col("agent") == agent).cast("int")).over(
        Window.partitionBy("host")
    )
    sel = (
        rules.withColumn("_hs", has_specific)
        .filter(
            ((F.col("_hs") == 1) & (F.col("agent") == agent))
            | ((F.col("_hs") == 0) & (F.col("agent") == "*"))
        )
        .drop("_hs")
    )
    # no forced broadcast: at the 10^7-host scale this docstring
    # targets the parsed-rules table is ~10^8 rows — far past any
    # broadcast threshold. The host-keyed hash join is the safe
    # default; the planner still broadcasts automatically whenever the
    # rules frame is actually small (as at every local scale factor).
    j = urls.join(sel, "host", "left")
    score = F.when(
        F.col("pattern_re").isNotNull()
        & F.expr("path rlike pattern_re"),
        F.col("plen"),
    ).otherwise(F.lit(-1))
    agg = j.groupBy("doc_id", "host", "path").agg(
        F.max(score).alias("_best"),
        F.max_by(F.col("is_allow"), F.struct(score.alias("s"), F.col("is_allow"))).alias(
            "_allow"
        ),
    )
    return agg.select(
        "doc_id", "host", "path",
        F.when(F.col("_best") >= 0, F.col("_allow"))
        .otherwise(F.lit(True))
        .alias("allowed"),
    )
