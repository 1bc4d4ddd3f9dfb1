"""Web-ingest tier: WARC, HTML extraction, crawl, link-graph analytics.

Split out of the monolithic queries.py (round 5); the package
__init__ imports tier modules in dependency order, so registration
order is deterministic and the registry machinery lives in _base.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract
from pero_ocr_spark.queries._base import (  # noqa: F401
    QueryFn, _EXTRACTED_CTE, _REGISTRY, _scratch, _t, register,
)
from pero_ocr_spark.queries._ctes import _HTML_PARA_CTE  # noqa: F401


@register(
    "html_block_classify",
    f"""
WITH {_HTML_PARA_CTE}
SELECT w.doc_id, 0 AS block_id, 'nav' AS tag,
       'home about contact' AS text, 3 AS n_words, 3 AS n_link_words,
       'bad' AS cls
FROM w
UNION ALL
SELECT k.doc_id, 1, 'h1', d.source || ' report', 2, 0,
       CASE WHEN k.nw0 >= 8 THEN 'good' ELSE 'bad' END
FROM k JOIN documents d USING (doc_id)
UNION ALL
SELECT doc_id, 2 + pi, 'p', ptext, nw,
       CASE WHEN pi % 3 = 2 AND nw = 12 THEN 2 ELSE 0 END,
       CASE WHEN nw >= 8 OR pi > 0 THEN 'good' ELSE 'bad' END
FROM par
UNION ALL
SELECT doc_id, 2 + np, 'aside', 'buy now subscribe today', 4, 4, 'bad' FROM k
UNION ALL
SELECT doc_id, 3 + np, 'footer', 'terms privacy copyright', 3, 2, 'bad' FROM k
""",
)
def q_html_block_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # north-rule DOM heuristics: synthesized page -> stdlib-HTMLParser
    # block segmentation (mapInPandas) -> link-density/word-count
    # classification with jusText neighbour inheritance (windows)
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    return H.classify_blocks(H.parse_html_blocks(H.synthesize_html(docs)))


@register(
    "html_main_content",
    f"""
WITH {_HTML_PARA_CTE},
kept AS (
  SELECT doc_id, pi, ptext FROM par WHERE nw >= 8 OR pi > 0
),
agg AS (
  SELECT doc_id, string_agg(ptext, ' ' ORDER BY pi) AS ptexts,
         count(*) AS nk
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN k.nw0 >= 8 THEN d.source || ' report ' || agg.ptexts
            ELSE coalesce(agg.ptexts, '') END AS main_text,
       CAST(CASE WHEN k.nw0 >= 8 THEN 1 ELSE 0 END
            + coalesce(agg.nk, 0) AS BIGINT) AS n_kept,
       CAST(4 + k.np AS BIGINT) AS n_blocks
FROM documents d
JOIN k USING (doc_id)
LEFT JOIN agg USING (doc_id)
""",
)
def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end boilerplate strip: parse -> classify -> keep good
    # blocks -> reassemble per doc (single doc_id shuffle end to end)
    from pero_ocr_spark.operators import html as H

    return H.extract_main_content(
        H.synthesize_html(_t(spark, sf_dir, "documents"))
    )


@register(
    "html_interleaved_spans",
    f"""
WITH {_HTML_PARA_CTE},
kept AS (
  SELECT k.doc_id, -1 AS bk, 'text' AS kind,
         d.source || ' report' AS text, NULL AS media_ref
  FROM k JOIN documents d USING (doc_id) WHERE k.nw0 >= 8
  UNION ALL
  SELECT doc_id, pi*2, 'text', ptext, NULL
  FROM par WHERE nw >= 8 OR pi > 0
  UNION ALL
  SELECT doc_id, pi*2 + 1, 'media', NULL,
         'img://' || doc_id || '/' || pi
  FROM par WHERE pi % 2 = 1
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bk) - 1
            AS BIGINT) AS ord,
       kind, text, media_ref
FROM kept
""",
)
def q_html_interleaved_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # north-star ingest: interleaved web page -> DOM parse ->
    # boilerplate strip -> ordered (kind, text, media_ref, ord) spans;
    # content-column <img> elements survive as media spans, furniture
    # imagery is dropped with its surroundings
    from pero_ocr_spark.operators import html as H

    return H.html_to_spans(
        H.synthesize_html_interleaved(_t(spark, sf_dir, "documents"))
    )


@register(
    "html_template_strip",
    f"""
WITH {_HTML_PARA_CTE},
blocks AS (
  SELECT w.doc_id, d.source AS host, 0 AS bk,
         'nav' AS tag, 'home about contact' AS text
  FROM w JOIN documents d USING (doc_id)
  UNION ALL
  SELECT k.doc_id, d.source, 1, 'h1', d.source || ' report'
  FROM k JOIN documents d USING (doc_id)
  UNION ALL
  SELECT p.doc_id, d.source, 2 + p.pi, 'p', p.ptext
  FROM par p JOIN documents d USING (doc_id)
  UNION ALL
  SELECT k.doc_id, d.source, 2 + k.np, 'aside', 'buy now subscribe today'
  FROM k JOIN documents d USING (doc_id)
  UNION ALL
  SELECT k.doc_id, d.source, 3 + k.np, 'footer', 'terms privacy copyright'
  FROM k JOIN documents d USING (doc_id)
),
hd AS (
  SELECT host, count(DISTINCT doc_id) AS host_docs FROM blocks GROUP BY host
),
tpl AS (
  SELECT b.host, b.tag, b.text
  FROM blocks b JOIN hd USING (host)
  GROUP BY b.host, b.tag, b.text, hd.host_docs
  HAVING count(DISTINCT doc_id) >= 2
     AND count(DISTINCT doc_id) >= hd.host_docs * 0.5
)
SELECT doc_id, host,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bk) - 1
            AS BIGINT) AS ord,
       'text' AS kind, text, CAST(NULL AS VARCHAR) AS media_ref
FROM blocks b
WHERE NOT EXISTS (
  SELECT 1 FROM tpl t
  WHERE t.host = b.host AND t.tag = b.tag AND t.text = b.text
)
""",
)
def q_html_template_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inter-page template detection: a block whose normalized content
    # repeats on >=50% of its host's pages is site chrome regardless of
    # per-page features — one (host, fp) shuffle learns the per-site
    # template table (site-bounded -> broadcast), an anti-join strips
    # it, doc_id windows re-rank the survivors. Catches long link-free
    # furniture that jusText keeps (ref analog: pero-ocr drops
    # repeated page furniture by layout position; across a web corpus
    # the repeat signal is inter-page, not geometric)
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html(docs, keep=("source",))
    return H.strip_template_blocks(pages, host_col="source")


def _walk_hop_sql(step: int, prev: str) -> str:
    """One unrolled hop of the deterministic walk: LEFT join the
    frontier to the edges, integer-composite argmin per walker,
    dead-ends carry their position."""
    return f"""
h{step} AS (
  SELECT f.start,
         min((((f.cur * 69069 + e.dst) % 2147483647 * 48271
               + {step} * 12345) % 2147483647) * 4294967296 + e.dst) AS mk,
         min(f.cur) AS pcur, min(f.walk) AS pwalk
  FROM {prev} f LEFT JOIN e ON e.src = f.cur
  GROUP BY f.start),
f{step} AS (
  SELECT start,
         CASE WHEN mk IS NULL THEN pcur ELSE mk % 4294967296 END AS cur,
         CASE WHEN mk IS NULL THEN pwalk
              ELSE pwalk || '->' || CAST(mk % 4294967296 AS VARCHAR)
         END AS walk
  FROM h{step})"""


_WALKS_ORACLE = (
    """
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS (
  SELECT d.doc_id AS src, (d.doc_id * 7 + t.j * 13 + 1) % n.c AS dst
  FROM documents d, n, generate_series(0, 4) t(j)
  WHERE t.j <= d.doc_id % 3 + 1),
e AS (SELECT src, dst FROM e0 WHERE src <> dst),
f0 AS (SELECT doc_id AS start, doc_id AS cur,
              CAST(doc_id AS VARCHAR) AS walk
       FROM documents),"""
    + ",".join(_walk_hop_sql(s, f"f{s - 1}") for s in (1, 2, 3))
    + """
SELECT start, walk, CAST(cur AS BIGINT) AS end_node FROM f3
"""
)


@register("web_random_walks", _WALKS_ORACLE)
def q_web_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DeepWalk/node2vec walk corpus (Perozzi et al. 2014): one
    # deterministic 3-hop walk per node — next hop = hash-argmin over
    # the current node's out-edges (the A-ES stateless-randomness
    # trick), so the walk corpus is identical at any partitioning or
    # cluster size. Each hop is one frontier-edges equi-join + a
    # map-side-combinable integer-min per walker; the composite
    # (hash << 32 | dst) key makes tie-breaking bit-identical in the
    # unrolled SQL oracle.
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.random_walks(docs, n_docs=docs.count(), steps=3)


@register(
    "warc_ingest",
    """
SELECT doc_id,
       CAST(doc_id % 32 AS BIGINT) AS shard_id,
       CAST(row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) - 1
            AS BIGINT) AS rec_index,
       'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
         AS url,
       CAST(CASE WHEN doc_id % 50 = 7 THEN 404 ELSE 200 END AS BIGINT)
         AS status,
       'text/html; charset=utf-8' AS content_type
FROM documents
""",
)
def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # web-ingest container tier: documents -> deterministic HTTP
    # captures -> length-framed WARC shards (ISO 28500 / Common Crawl
    # shape) -> record parse. Verifies framing, per-shard record order,
    # WARC+HTTP header fields, and the 404-capture branch.
    from pero_ocr_spark.operators import html as H
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    shards = W.synthesize_warc_shards(W.capture_table(pages), n_shards=32)
    return W.parse_warc_records(shards).select(
        "doc_id", "shard_id", "rec_index", "url", "status", "content_type"
    )


@register(
    "warc_html_spans",
    f"""
WITH {_HTML_PARA_CTE},
kept AS (
  SELECT k.doc_id, -1 AS bk, 'text' AS kind,
         d.source || ' report' AS text, NULL AS media_ref
  FROM k JOIN documents d USING (doc_id) WHERE k.nw0 >= 8
  UNION ALL
  SELECT doc_id, pi*2, 'text', ptext, NULL
  FROM par WHERE nw >= 8 OR pi > 0
  UNION ALL
  SELECT doc_id, pi*2 + 1, 'media', NULL,
         'img://' || doc_id || '/' || pi
  FROM par WHERE pi % 2 = 1
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bk) - 1
            AS BIGINT) AS ord,
       kind, text, media_ref
FROM kept
WHERE doc_id % 50 <> 7
""",
)
def q_warc_html_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the full web path in one plan: WARC container -> record framing
    # -> HTTP parse -> DOM block segmentation -> boilerplate strip ->
    # interleaved (kind, text, media_ref, ord) spans. Oracle = the
    # html_interleaved_spans closed form minus the 404 captures.
    from pero_ocr_spark.operators import html as H
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html_interleaved(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    shards = W.synthesize_warc_shards(W.capture_table(pages), n_shards=32)
    recs = W.parse_warc_records(shards).filter(F.col("status") == 200)
    return H.html_to_spans(
        recs.select("doc_id", F.col("body").alias("html"))
    )


_PAGERANK_ORACLE = """
WITH cnt AS (SELECT count(*) AS n FROM documents),
j AS (
  SELECT doc_id AS src,
         unnest(generate_series(0, doc_id % 3 + 1)) AS j
  FROM documents),
e AS (
  SELECT src, (src*7 + j*13 + 1) % (SELECT n FROM cnt) AS dst
  FROM j
  WHERE (src*7 + j*13 + 1) % (SELECT n FROM cnt) <> src),
od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
ew AS (SELECT e.src, e.dst, od.deg FROM e JOIN od USING (src)),
r0 AS (SELECT doc_id, 1.0/(SELECT n FROM cnt) AS rank FROM documents),
r1 AS (
  SELECT d.doc_id,
         (1.0-0.85)/(SELECT n FROM cnt) + 0.85*coalesce(s.inflow, 0.0) AS rank
  FROM documents d LEFT JOIN (
    SELECT ew.dst AS doc_id, sum(r0.rank/ew.deg) AS inflow
    FROM ew JOIN r0 ON r0.doc_id = ew.src GROUP BY ew.dst) s USING (doc_id)),
r2 AS (
  SELECT d.doc_id,
         (1.0-0.85)/(SELECT n FROM cnt) + 0.85*coalesce(s.inflow, 0.0) AS rank
  FROM documents d LEFT JOIN (
    SELECT ew.dst AS doc_id, sum(r1.rank/ew.deg) AS inflow
    FROM ew JOIN r1 ON r1.doc_id = ew.src GROUP BY ew.dst) s USING (doc_id)),
r3 AS (
  SELECT d.doc_id,
         (1.0-0.85)/(SELECT n FROM cnt) + 0.85*coalesce(s.inflow, 0.0) AS rank
  FROM documents d LEFT JOIN (
    SELECT ew.dst AS doc_id, sum(r2.rank/ew.deg) AS inflow
    FROM ew JOIN r2 ON r2.doc_id = ew.src GROUP BY ew.dst) s USING (doc_id))
SELECT doc_id, round(rank, 9) AS rank FROM r3
"""


@register("web_pagerank", _PAGERANK_ORACLE)
def q_web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-document web structure: 3 power-iteration steps over the
    # deterministic doc_id link graph. The iterated shuffle shape —
    # rank joins edges on src, re-agg by dst, NOTHING broadcast (at
    # 10^12 docs the rank vector is corpus-sized); edge list persisted
    # once. Oracle = the same three iterations unrolled as CTEs.
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.pagerank(docs, n_docs=docs.count(), iterations=3)


@register(
    "host_quality_priors",
    """
WITH q AS (
  SELECT doc_id, source,
         string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents),
s AS (
  SELECT doc_id, source || '.example.com' AS host,
         round((len(list_distinct(w)) * 1.0 / n
                + (CASE WHEN n BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.5 END)
                + (CASE WHEN list_sum(list_transform(w, x -> length(x))) * 1.0 / n
                        BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)) / 3.0, 6)
           AS doc_quality
  FROM q),
h AS (
  SELECT host, round(avg(doc_quality), 6) AS host_prior,
         CAST(count(*) AS BIGINT) AS host_docs
  FROM s GROUP BY host)
SELECT s.doc_id, s.host, s.doc_quality, h.host_prior, h.host_docs,
       0.5*s.doc_quality + 0.5*h.host_prior AS combined,
       0.5*s.doc_quality + 0.5*h.host_prior > 0.55 AS keep
FROM s JOIN h USING (host)
""",
)
def q_host_quality_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RefinedWeb/CCNet-style host-level curation: per-doc quality
    # blended with the host mean. Agg to hosts (1000x reduction at
    # scale) + broadcast join back - no window over the corpus.
    from pero_ocr_spark.operators import linkgraph

    return linkgraph.host_quality_priors(_t(spark, sf_dir, "documents"))


@register(
    "warc_stream_ingest",
    f"""
WITH {_HTML_PARA_CTE},
kept AS (
  SELECT k.doc_id, -1 AS bk, 'text' AS kind,
         d.source || ' report' AS text, NULL AS media_ref
  FROM k JOIN documents d USING (doc_id) WHERE k.nw0 >= 8
  UNION ALL
  SELECT doc_id, pi*2, 'text', ptext, NULL
  FROM par WHERE nw >= 8 OR pi > 0
  UNION ALL
  SELECT doc_id, pi*2 + 1, 'media', NULL,
         'img://' || doc_id || '/' || pi
  FROM par WHERE pi % 2 = 1
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bk) - 1
            AS BIGINT) AS ord,
       kind, text, media_ref
FROM kept
WHERE doc_id % 50 <> 7
""",
)
def q_warc_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Structured-Streaming web ingest, externally verified: WARC shard
    # blobs land as files, an availableNow foreachBatch run parses and
    # extracts them with the exactly-once (batch_id, shard) dynamic-
    # overwrite write, and the sink contents must equal the SAME
    # closed form as the batch path (warc_html_spans oracle) — the
    # streaming engine may split shards across micro-batches however
    # it likes, the union of idempotent batch writes must not care.
    import os

    from pero_ocr_spark.operators import html as H
    from pero_ocr_spark.sources import warc as W
    from pero_ocr_spark.streaming import ingest

    root = _scratch("warc_stream")
    warc_dir, out_dir, ckpt = (
        os.path.join(root, d) for d in ("shards", "spans", "ckpt")
    )
    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html_interleaved(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    W.synthesize_warc_shards(W.capture_table(pages), n_shards=32).coalesce(
        4
    ).write.mode("overwrite").parquet(warc_dir)
    q = ingest.stream_ingest_warc(spark, warc_dir, out_dir, ckpt)
    q.awaitTermination(300)
    return spark.read.parquet(out_dir).select(
        "doc_id", "ord", "kind", "text", "media_ref"
    )


def _redirect_iter(i: int) -> str:
    return f"""
r{i + 1} AS (
  SELECT r.doc_id,
         CASE WHEN s.status = 301 THEN h.nxt ELSE r.cur END AS cur,
         r.hops + CASE WHEN s.status = 301 THEN 1 ELSE 0 END AS hops
  FROM r{i} r JOIN st s ON s.doc_id = r.cur JOIN hop h ON h.doc_id = r.cur)"""


@register(
    "warc_redirect_resolution",
    """
WITH cnt AS (SELECT count(*) AS n FROM documents),
u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           AS url
  FROM documents),
st AS (
  SELECT doc_id,
         CASE WHEN doc_id % 40 IN (3, 10, 17) THEN 301
              WHEN doc_id % 50 = 7 THEN 404 ELSE 200 END AS status
  FROM documents),
hop AS (SELECT doc_id, (doc_id + 7) % (SELECT n FROM cnt) AS nxt FROM documents),
r0 AS (SELECT doc_id, doc_id AS cur, 0 AS hops FROM documents),"""
    + ",".join(_redirect_iter(i) for i in range(4))
    + """
SELECT r.doc_id, u0.url AS start_url, u1.url AS final_url,
       CAST(s.status AS BIGINT) AS final_status,
       CAST(r.hops AS BIGINT) AS hops,
       s.status <> 301 AS resolved
FROM r4 r
JOIN u u0 ON u0.doc_id = r.doc_id
JOIN u u1 ON u1.doc_id = r.cur
JOIN st s ON s.doc_id = r.cur
""",
)
def q_warc_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # crawl post-processing: 301 chains followed by URL equi-joins over
    # the parsed archive (chains of length 1-3 by construction: 17->24,
    # 10->17->24, 3->10->17->24); oracle = hops unrolled over id
    # arithmetic. Nothing broadcast - at corpus scale the record table
    # and the frontier are both corpus-sized.
    from pero_ocr_spark.operators import html as H
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    pages = H.synthesize_html(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    caps = W.capture_table(pages, with_redirects=True, n_docs=n)
    recs = W.parse_warc_records(W.synthesize_warc_shards(caps, n_shards=32))
    return W.resolve_redirects(recs, max_hops=4)


@register(
    "warc_robots_filter",
    """
WITH cap AS (
  SELECT doc_id,
         'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           AS url,
         source || '.example.com' AS host,
         CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) AS src_idx
  FROM documents)
SELECT doc_id, url, host,
       CASE WHEN src_idx % 5 = 0 THEN 'disallow_all'
            WHEN src_idx % 5 = 2 THEN 'disallow_odd'
            ELSE 'allow' END AS rule,
       CASE WHEN src_idx % 5 = 0 THEN FALSE
            WHEN src_idx % 5 = 2 AND doc_id % 2 = 1 THEN FALSE
            ELSE TRUE END AS allowed
FROM cap
""",
)
def q_warc_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # crawl compliance: parsed per-host robots rules (host-sized table,
    # broadcast) applied to the capture urls - the corpus side never
    # shuffles; rule kinds cover full-block, pattern-block and allow.
    from pero_ocr_spark.operators import html as H
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    caps = W.capture_table(pages).select("doc_id", "url")
    return W.robots_filter(caps, W.synth_robots(docs))


@register(
    "warc_charset_decode",
    """
SELECT doc_id,
       CASE doc_id % 10
         WHEN 1 THEN 'utf-16-le' WHEN 6 THEN 'utf-16-le'
         WHEN 2 THEN 'utf-16-be' WHEN 7 THEN 'utf-16-be'
         WHEN 3 THEN 'latin-1'   WHEN 9 THEN 'latin-1'
         WHEN 8 THEN 'cp1252'
         ELSE 'utf-8' END AS charset,
       CASE doc_id % 10
         WHEN 1 THEN 'bom' WHEN 6 THEN 'bom'
         WHEN 2 THEN 'bom' WHEN 7 THEN 'bom'
         WHEN 8 THEN 'meta'
         WHEN 4 THEN 'sniff' WHEN 9 THEN 'sniff'
         ELSE 'header' END AS charset_source,
       text || ' café' AS text
FROM documents
""",
)
def q_warc_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # byte→text front door: deterministic multi-encoding synthesis
    # (BOM / header / meta / sniff rungs, non-ascii probe suffix) then
    # the WHATWG-ordered detection ladder; every decoded text must
    # equal original + probe regardless of which rung fired. Narrow
    # Arrow map end-to-end — zero shuffles.
    from pero_ocr_spark.operators import charset

    return charset.decode_corpus(_t(spark, sf_dir, "documents"))


@register(
    "warc_gzip_ingest",
    """
SELECT doc_id,
       CAST(doc_id % 32 AS BIGINT) AS shard_id,
       CAST(row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) - 1
            AS BIGINT) AS rec_index,
       CAST(CASE WHEN doc_id % 50 = 7 THEN 404 ELSE 200 END AS BIGINT)
         AS status
FROM documents
""",
)
def q_warc_gzip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # .warc.gz container form (the actual Common Crawl layout): one
    # gzip member per record, members walked by decompressor handoff
    # (never delimiter-searched); record set, order and status branch
    # must equal the plain-framed parse exactly.
    from pero_ocr_spark.operators import html as H
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    shards = W.synthesize_warc_shards(
        W.capture_table(pages), n_shards=32, gzip_members=True
    )
    return W.parse_warc_records(shards).select(
        "doc_id", "shard_id", "rec_index", "status"
    )


@register(
    "warc_cdx_index",
    """
SELECT CAST(doc_id % 32 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(COUNT(*) AS BIGINT) AS n_verified
FROM documents
GROUP BY doc_id % 32
""",
)
def q_warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDX offset index over .warc.gz shards: every entry's (offset,
    # length) byte slice is independently re-parsed in-task; the
    # oracle pins n_verified == n_records, so a single entry whose
    # slice does not stand alone fails the external hash check.
    from pero_ocr_spark.operators import html as H
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    shards = W.synthesize_warc_shards(
        W.capture_table(pages), n_shards=32, gzip_members=True
    )
    return W.cdx_index(shards).groupBy("shard_id").agg(
        F.count("*").alias("n_records"),
        F.sum("verified").alias("n_verified"),
    )


@register(
    "web_anchor_text",
    """
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
e AS (
  SELECT d.doc_id AS src, d.source,
         (d.doc_id * 7 + t.j * 13 + 1) % n.n_docs AS dst,
         array_to_string(list_slice(d.w, 2 * t.j + 1, 2 * t.j + 2), ' ')
           AS anchor
  FROM d, n, generate_series(0, 3) t(j)
  WHERE t.j <= d.doc_id % 3 + 1)
SELECT dst AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_anchors,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src_hosts,
       MIN(anchor) AS top_anchor
FROM e
WHERE src <> dst
GROUP BY dst
""",
)
def q_web_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    # off-page signal: aggregate what linking pages say about each
    # target. Anchor text is derived inside the source row (no
    # edges-to-docs join), one explode + one map-side-combinable
    # shuffle on dst — in-degree skew ships partial aggregates only.
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.anchor_text_corpus(docs, n_docs=docs.count())


@register(
    "crawl_frontier_schedule",
    """
WITH f AS (
  SELECT doc_id, source || '.example.com' AS host,
         CAST((doc_id*69069 + 12345) % 2147483647 % 100 AS INT) AS priority,
         1 + CAST(substr(source, 4) AS INT) % 5 AS delay
  FROM documents)
SELECT doc_id, host, priority,
       CAST(row_number() OVER (
              PARTITION BY host ORDER BY priority DESC, doc_id) - 1
            AS BIGINT) AS slot,
       CAST((row_number() OVER (
              PARTITION BY host ORDER BY priority DESC, doc_id) - 1) * delay
            AS BIGINT) AS fetch_at
FROM f
""",
)
def q_crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # politeness-aware crawl scheduling: priority-ranked FIFO slots
    # within each host (robots crawl-delay serialization), fully
    # parallel across hosts — one host shuffle, window = the schedule
    from pero_ocr_spark.operators import linkgraph, sampling

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        sampling._residue(100).cast("int").alias("priority"),
        (1 + F.substring("source", 4, 10).cast("int") % 5)
        .cast("int")
        .alias("crawl_delay"),
    )
    return linkgraph.frontier_schedule(frontier)


@register(
    "crawl_snapshot_diff",
    """
WITH r AS (
  SELECT doc_id, text, source,
         (doc_id*69069 + 12345) % 2147483647 % 20 AS r20
  FROM documents),
o AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         text
  FROM r),
n AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         CASE WHEN r20 = 0 THEN 'v2 ' || text ELSE text END AS text
  FROM r WHERE r20 <> 1
  UNION ALL
  SELECT 'https://' || source || '.example.com/doc/' || (doc_id + 7000000),
         'new ' || source
  FROM r WHERE r20 = 2),
j AS (
  SELECT coalesce(o.url, n.url) AS url, o.text AS ot, n.text AS nt
  FROM o FULL OUTER JOIN n ON o.url = n.url)
SELECT url,
       CASE WHEN ot IS NULL THEN 'added'
            WHEN nt IS NULL THEN 'removed'
            WHEN ot <> nt THEN 'changed'
            ELSE 'unchanged' END AS status
FROM j
""",
)
def q_crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recrawl delta: full-outer on url comparing sha-256 content
    # digests (only (url, digest) pairs shuffle; nothing broadcasts —
    # both snapshots are corpus-sized). The synthetic new snapshot
    # changes 1/20 of pages, drops 1/20, adds 1/20 at fresh URLs.
    from pero_ocr_spark.operators import linkgraph, sampling

    docs = _t(spark, sf_dir, "documents")
    r20 = sampling._residue(20)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    old = docs.select(url.alias("url"), F.sha2(F.col("text"), 256).alias("h"))
    changed = docs.filter(r20 != 1).select(
        url.alias("url"),
        F.sha2(
            F.when(r20 == 0, F.concat(F.lit("v2 "), F.col("text")))
            .otherwise(F.col("text")),
            256,
        ).alias("h"),
    )
    added = docs.filter(r20 == 2).select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            (F.col("doc_id") + 7_000_000).cast("string"),
        ).alias("url"),
        F.sha2(F.concat(F.lit("new "), F.col("source")), 256).alias("h"),
    )
    return linkgraph.snapshot_diff(
        old, changed.unionByName(added), key="url", cmp_col="h"
    )


@register(
    "html_outlinks",
    f"""
WITH {_HTML_PARA_CTE},
raw AS (
  SELECT k.doc_id, 0 AS grp, 0 AS sub, '/' AS href, 'home' AS anchor FROM k
  UNION ALL
  SELECT doc_id, 0, 1, '/about', 'about' FROM k
  UNION ALL
  SELECT doc_id, 0, 2, '/c', 'contact' FROM k
  UNION ALL
  SELECT doc_id, 1, pi, '#r',
         array_to_string(list_slice(ws, pi*12+1, pi*12+2), ' ')
  FROM par0 JOIN par USING (doc_id, pi)
  WHERE pi % 3 = 2 AND nw = 12
  UNION ALL
  SELECT doc_id, 2, 0, '/ad1', 'buy now' FROM k
  UNION ALL
  SELECT doc_id, 2, 1, '/ad2', 'subscribe today' FROM k
  UNION ALL
  SELECT doc_id, 3, 0, '/tos', 'terms' FROM k
  UNION ALL
  SELECT doc_id, 3, 1, '/priv', 'privacy' FROM k
),
numbered AS (
  SELECT r.doc_id, d.source || '.example.com' AS host, href, anchor,
         CAST(row_number() OVER (
                PARTITION BY r.doc_id ORDER BY grp, sub) - 1 AS INT)
           AS link_id
  FROM raw r JOIN documents d ON r.doc_id = d.doc_id)
SELECT doc_id, link_id, href, anchor,
       CASE WHEN href LIKE '#%'
              THEN 'https://' || host || '/doc/' || doc_id || href
            WHEN href LIKE '/%'
              THEN 'https://' || host || href
            ELSE 'https://' || host || '/' || href END AS url
FROM numbered
""",
)
def q_html_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # outlink harvesting from real markup: one parser walk per page
    # (same Arrow stage family as block parse), hrefs resolved against
    # the page URL with a pure codegen expression — the link-graph
    # feeder (PageRank / anchor aggregation) for DOM-born edges
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html(docs, keep=("source",))
    links = H.parse_html_outlinks(pages, carry=("source",))
    host = F.concat(F.col("source"), F.lit(".example.com"))
    base = F.concat(
        F.lit("https://"), host, F.lit("/doc/"), F.col("doc_id").cast("string")
    )
    return links.select(
        "doc_id",
        "link_id",
        "href",
        "anchor",
        H.resolve_href(F.col("href"), host, base).alias("url"),
    )


@register(
    "html_densitometric_classify",
    f"""
WITH {_HTML_PARA_CTE},
blocks AS (
  SELECT w.doc_id, 0 AS block_id, 3 AS nw, 3 AS lw FROM w
  UNION ALL SELECT doc_id, 1, 2, 0 FROM k
  UNION ALL
  SELECT doc_id, 2 + pi, nw,
         CASE WHEN pi % 3 = 2 AND nw = 12 THEN 2 ELSE 0 END
  FROM par
  UNION ALL SELECT doc_id, 2 + np, 4, 4 FROM k
  UNION ALL SELECT doc_id, 3 + np, 3, 2 FROM k
),
f AS (
  SELECT doc_id, block_id, nw,
         lw * 1.0 / greatest(nw, 1) AS ld,
         coalesce(lag(nw) OVER wd, 0) AS pw,
         coalesce(lead(nw) OVER wd, 0) AS nx,
         coalesce(lag(lw * 1.0 / greatest(nw, 1)) OVER wd, 0.0) AS pld
  FROM blocks
  WINDOW wd AS (PARTITION BY doc_id ORDER BY block_id)
)
SELECT doc_id, CAST(block_id AS INT) AS block_id,
       CASE WHEN ld <= 0.333333 THEN
         CASE WHEN pld <= 0.555556 THEN
           CASE WHEN nw > 16 OR nx > 15 OR pw > 4
                THEN 'content' ELSE 'boilerplate' END
         ELSE
           CASE WHEN nw > 40 OR nx > 17
                THEN 'content' ELSE 'boilerplate' END
         END
       ELSE 'boilerplate' END AS cls
FROM f
""",
)
def q_html_densitometric_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the second published extractor family: Boilerpipe's shallow-text
    # decision tree ((prev, curr, next) word counts + link densities),
    # pure Catalyst windows on the same exchange as the jusText
    # classifier — extractor diversity for ensemble/agreement curation
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    blocks = H.parse_html_blocks(H.synthesize_html(docs))
    return H.classify_blocks_densitometric(blocks).select(
        "doc_id", "block_id", "cls"
    )


@register(
    "html_ensemble_extract",
    f"""
WITH {_HTML_PARA_CTE},
blocks AS (
  SELECT w.doc_id, d.source AS host, 0 AS bk, 'nav' AS tag,
         'home about contact' AS text, 3 AS nw, 3 AS lw, 'bad' AS jt
  FROM w JOIN documents d USING (doc_id)
  UNION ALL
  SELECT k.doc_id, d.source, 1, 'h1', d.source || ' report', 2, 0,
         CASE WHEN k.nw0 >= 8 THEN 'good' ELSE 'bad' END
  FROM k JOIN documents d USING (doc_id)
  UNION ALL
  SELECT p.doc_id, d.source, 2 + p.pi, 'p', p.ptext, p.nw,
         CASE WHEN p.pi % 3 = 2 AND p.nw = 12 THEN 2 ELSE 0 END,
         CASE WHEN p.nw >= 8 OR p.pi > 0 THEN 'good' ELSE 'bad' END
  FROM par p JOIN documents d USING (doc_id)
  UNION ALL
  SELECT k.doc_id, d.source, 2 + k.np, 'aside',
         'buy now subscribe today', 4, 4, 'bad'
  FROM k JOIN documents d USING (doc_id)
  UNION ALL
  SELECT k.doc_id, d.source, 3 + k.np, 'footer',
         'terms privacy copyright', 3, 2, 'bad'
  FROM k JOIN documents d USING (doc_id)
),
f AS (
  SELECT doc_id, host, bk, tag, text, nw, jt,
         lw * 1.0 / greatest(nw, 1) AS ld,
         coalesce(lag(nw) OVER wd, 0) AS pw,
         coalesce(lead(nw) OVER wd, 0) AS nx,
         coalesce(lag(lw * 1.0 / greatest(nw, 1)) OVER wd, 0.0) AS pld
  FROM blocks
  WINDOW wd AS (PARTITION BY doc_id ORDER BY bk)
),
dens AS (
  SELECT *,
         CASE WHEN ld <= 0.333333 THEN
           CASE WHEN pld <= 0.555556 THEN
             CASE WHEN nw > 16 OR nx > 15 OR pw > 4 THEN 1 ELSE 0 END
           ELSE
             CASE WHEN nw > 40 OR nx > 17 THEN 1 ELSE 0 END
           END
         ELSE 0 END AS v_dens
  FROM f
),
hd AS (
  SELECT host, count(DISTINCT doc_id) AS host_docs FROM blocks GROUP BY host),
tpl AS (
  SELECT b.host, b.tag, b.text
  FROM blocks b JOIN hd USING (host)
  GROUP BY b.host, b.tag, b.text, hd.host_docs
  HAVING count(DISTINCT doc_id) >= 2
     AND count(DISTINCT doc_id) >= hd.host_docs * 0.5
),
voted AS (
  SELECT d.doc_id, d.bk, d.text,
         t.text IS NULL AND (d.jt = 'good' OR d.v_dens = 1) AS keep
  FROM dens d LEFT JOIN tpl t
    ON d.host = t.host AND d.tag = t.tag AND d.text = t.text
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bk) - 1
            AS BIGINT) AS ord,
       'text' AS kind, text, CAST(NULL AS VARCHAR) AS media_ref
FROM voted WHERE keep
""",
)
def q_html_ensemble_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three-signal ensemble from ONE parser pass: inter-page template
    # frequency VETOES (the per-page classifiers are correlated and
    # would jointly re-admit long link-free chrome), then jusText OR
    # densitometric keeps; windows share one exchange, the template
    # table broadcasts
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    pages = H.synthesize_html(docs, keep=("source",))
    return H.ensemble_extract(pages, host_col="source")


_HITS_ORACLE = """
WITH cnt AS (SELECT count(*) AS n FROM documents),
j AS (
  SELECT doc_id AS src,
         unnest(generate_series(0, doc_id % 3 + 1)) AS j
  FROM documents),
e AS (
  SELECT src, (src*7 + j*13 + 1) % (SELECT n FROM cnt) AS dst
  FROM j
  WHERE (src*7 + j*13 + 1) % (SELECT n FROM cnt) <> src),
h0 AS (SELECT doc_id, 1.0 AS hub FROM documents),
a1r AS (
  SELECT d.doc_id,
         coalesce((SELECT sum(h0.hub) FROM e JOIN h0 ON h0.doc_id = e.src
                   WHERE e.dst = d.doc_id), 0.0) AS a
  FROM documents d),
a1 AS (SELECT doc_id, a / (SELECT max(a) FROM a1r) AS auth FROM a1r),
h1r AS (
  SELECT d.doc_id,
         coalesce((SELECT sum(a1.auth) FROM e JOIN a1 ON a1.doc_id = e.dst
                   WHERE e.src = d.doc_id), 0.0) AS h
  FROM documents d),
h1 AS (SELECT doc_id, h / (SELECT max(h) FROM h1r) AS hub FROM h1r),
a2r AS (
  SELECT d.doc_id,
         coalesce((SELECT sum(h1.hub) FROM e JOIN h1 ON h1.doc_id = e.src
                   WHERE e.dst = d.doc_id), 0.0) AS a
  FROM documents d),
a2 AS (SELECT doc_id, a / (SELECT max(a) FROM a2r) AS auth FROM a2r),
h2r AS (
  SELECT d.doc_id,
         coalesce((SELECT sum(a2.auth) FROM e JOIN a2 ON a2.doc_id = e.dst
                   WHERE e.src = d.doc_id), 0.0) AS h
  FROM documents d),
h2 AS (SELECT doc_id, h / (SELECT max(h) FROM h2r) AS hub FROM h2r),
a3r AS (
  SELECT d.doc_id,
         coalesce((SELECT sum(h2.hub) FROM e JOIN h2 ON h2.doc_id = e.src
                   WHERE e.dst = d.doc_id), 0.0) AS a
  FROM documents d),
a3 AS (SELECT doc_id, a / (SELECT max(a) FROM a3r) AS auth FROM a3r),
h3r AS (
  SELECT d.doc_id,
         coalesce((SELECT sum(a3.auth) FROM e JOIN a3 ON a3.doc_id = e.dst
                   WHERE e.src = d.doc_id), 0.0) AS h
  FROM documents d),
h3 AS (SELECT doc_id, h / (SELECT max(h) FROM h3r) AS hub FROM h3r)
SELECT a3.doc_id, round(a3.auth, 6) AS authority, round(h3.hub, 6) AS hub
FROM a3 JOIN h3 USING (doc_id)
"""


@register("web_hits", _HITS_ORACLE)
def q_web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HITS hubs/authorities over the deterministic link graph: 3
    # mutual-reinforcement steps, max-normalized (max is FP-order-
    # independent, so the oracle's serial reduction agrees exactly);
    # same iterated corpus-sized shuffle shape as pagerank
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.hits(docs, n_docs=docs.count(), iterations=3)


@register(
    "web_triangles",
    """
WITH cnt AS (SELECT count(*) AS n FROM documents),
j AS (
  SELECT doc_id AS src,
         unnest(generate_series(0, doc_id % 3 + 1)) AS j
  FROM documents),
e AS (
  SELECT src, (src*7 + j*13 + 1) % (SELECT n FROM cnt) AS dst
  FROM j
  WHERE (src*7 + j*13 + 1) % (SELECT n FROM cnt) <> src),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY 1),
lab AS (
  SELECT und.a, und.b, da.deg AS da, db.deg AS db
  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
o AS (
  SELECT CASE WHEN (da, a) < (db, b) THEN a ELSE b END AS u,
         CASE WHEN (da, a) < (db, b) THEN b ELSE a END AS w
  FROM lab),
tri AS (
  SELECT count(*) AS t
  FROM o e1 JOIN o e2 ON e2.u = e1.w
            JOIN o e3 ON e3.u = e1.u AND e3.w = e2.w),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
SELECT n_nodes, n_edges, n_wedges,
       CAST(t AS BIGINT) AS n_triangles,
       round(3.0 * t / n_wedges, 6) AS global_clustering
FROM st, ne, tri
""",
)
def q_web_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # triangle count + global clustering coefficient via degree-ordered
    # edge orientation (each triangle counted exactly once; hub-wedge
    # explosion neutralized); integer-exact until the final ratio
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.triangle_stats(docs, n_docs=docs.count())


_LPA_GRAPH_CTE = """
cnt AS (SELECT count(*) AS n FROM documents),
j AS (
  SELECT doc_id AS src,
         unnest(generate_series(0, doc_id % 3 + 1)) AS j
  FROM documents),
e0 AS (
  SELECT src, (src*7 + j*13 + 1) % (SELECT n FROM cnt) AS dst
  FROM j
  WHERE (src*7 + j*13 + 1) % (SELECT n FROM cnt) <> src),
e AS (
  SELECT src AS a, dst AS b FROM e0
  UNION
  SELECT dst AS a, src AS b FROM e0)
"""


def _lpa_round(r: int) -> str:
    p = r - 1
    return f""",
c{r} AS (
  SELECT e.a AS doc_id, l{p}.community AS l, count(*) AS c
  FROM e JOIN l{p} ON l{p}.doc_id = e.b GROUP BY e.a, l{p}.community),
p{r} AS (
  SELECT doc_id, l FROM (
    SELECT doc_id, l,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, l ASC)
             AS rn
    FROM c{r}) WHERE rn = 1),
l{r} AS (
  SELECT l{p}.doc_id, coalesce(p{r}.l, l{p}.community) AS community
  FROM l{p} LEFT JOIN p{r} USING (doc_id))"""


@register(
    "web_components",
    """
WITH RECURSIVE
cnt AS (SELECT count(*) AS n FROM documents),
ch AS (
  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
  WHERE doc_id % 7 <> 6 AND doc_id + 1 < (SELECT n FROM cnt)),
br AS (
  SELECT doc_id AS src, doc_id + 15 AS dst FROM documents
  WHERE doc_id % 35 = 0 AND doc_id + 15 < (SELECT n FROM cnt)),
e AS (
  SELECT src, dst FROM ch UNION SELECT src, dst FROM br
  UNION SELECT dst, src FROM ch UNION SELECT dst, src FROM br),
reach (doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN e ON e.src = reach.r)
SELECT doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY doc_id
""",
)
def q_web_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # connected components over the sparse chain+bridge graph via
    # large-star/small-star (O(log n) rounds vs the chains' O(n/7)
    # diameter under plain propagation); oracle = recursive-CTE
    # reachability closure, tractable exactly because components are
    # small (the Spark side never materializes the closure)
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    edges = linkgraph.synth_sparse_edges(docs, n_docs=docs.count())
    return linkgraph.connected_components(docs.select("doc_id"), edges)


@register(
    "web_communities_lpa",
    "WITH "
    + _LPA_GRAPH_CTE
    + ",\nl0 AS (SELECT doc_id, doc_id AS community FROM documents)"
    + "".join(_lpa_round(r) for r in (1, 2, 3))
    + "\nSELECT doc_id, CAST(community AS BIGINT) AS community FROM l3",
)
def q_web_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synchronous label propagation, 3 rounds, smallest-label tiebreak;
    # oracle = the same rounds unrolled as CTEs (count argmax via
    # row_number ordered by (c DESC, l ASC) = the struct-min trick)
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.label_propagation(docs, n_docs=docs.count(),
                                       iterations=3)


def _kcore_round(r: int, k: int = 3) -> str:
    p = r - 1
    return f""",
d{r} AS (SELECT a, count(*) AS deg FROM e{p} GROUP BY a),
s{r} AS (SELECT a FROM d{r} WHERE deg >= {k}),
e{r} AS (
  SELECT e.a, e.b FROM e{p} e
  JOIN s{r} ka ON ka.a = e.a
  JOIN s{r} kb ON kb.a = e.b)"""


@register(
    "web_kcore",
    """
WITH cnt AS (SELECT count(*) AS n FROM documents),
j AS (
  SELECT doc_id AS src,
         unnest(generate_series(0, doc_id % 3 + 1)) AS j
  FROM documents),
eraw AS (
  SELECT src, (src*7 + j*13 + 1) % (SELECT n FROM cnt) AS dst
  FROM j
  WHERE (src*7 + j*13 + 1) % (SELECT n FROM cnt) <> src),
e0 AS (
  SELECT src AS a, dst AS b FROM eraw
  UNION
  SELECT dst AS a, src AS b FROM eraw)"""
    + "".join(_kcore_round(r) for r in (1, 2, 3, 4, 5, 6))
    + """,
cd AS (SELECT a AS doc_id, CAST(count(*) AS INTEGER) AS core_degree
       FROM e6 GROUP BY a)
SELECT d.doc_id,
       CAST(coalesce(cd.core_degree, 0) AS INTEGER) AS core_degree,
       coalesce(cd.core_degree, 0) >= 3 AS in_core
FROM documents d LEFT JOIN cd USING (doc_id)
""",
)
def q_web_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 3-core peeling to fixpoint; the oracle unrolls SIX peel rounds —
    # peeling is monotone and idempotent past its fixpoint, and the
    # parity test asserts the fixpoint lands within six rounds at the
    # oracle SF, so the unrolled form is exact there
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.kcore_membership(docs, n_docs=docs.count(), k=3)


_TRUSTRANK_ORACLE = """
WITH cnt AS (SELECT count(*) AS n FROM documents),
ns AS (SELECT count(*) AS s FROM documents WHERE doc_id % 50 = 0),
j AS (
  SELECT doc_id AS src,
         unnest(generate_series(0, doc_id % 3 + 1)) AS j
  FROM documents),
e AS (
  SELECT src, (src*7 + j*13 + 1) % (SELECT n FROM cnt) AS dst
  FROM j
  WHERE (src*7 + j*13 + 1) % (SELECT n FROM cnt) <> src),
od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
ew AS (SELECT e.src, e.dst, od.deg FROM e JOIN od USING (src)),
r0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 50 = 0 THEN 1.0/(SELECT s FROM ns)
              ELSE 0.0 END AS trust
  FROM documents),
r1 AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 50 = 0 THEN (1.0-0.85)/(SELECT s FROM ns)
              ELSE 0.0 END + 0.85*coalesce(s.inflow, 0.0) AS trust
  FROM documents d LEFT JOIN (
    SELECT ew.dst AS doc_id, sum(r0.trust/ew.deg) AS inflow
    FROM ew JOIN r0 ON r0.doc_id = ew.src GROUP BY ew.dst) s USING (doc_id)),
r2 AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 50 = 0 THEN (1.0-0.85)/(SELECT s FROM ns)
              ELSE 0.0 END + 0.85*coalesce(s.inflow, 0.0) AS trust
  FROM documents d LEFT JOIN (
    SELECT ew.dst AS doc_id, sum(r1.trust/ew.deg) AS inflow
    FROM ew JOIN r1 ON r1.doc_id = ew.src GROUP BY ew.dst) s USING (doc_id)),
r3 AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 50 = 0 THEN (1.0-0.85)/(SELECT s FROM ns)
              ELSE 0.0 END + 0.85*coalesce(s.inflow, 0.0) AS trust
  FROM documents d LEFT JOIN (
    SELECT ew.dst AS doc_id, sum(r2.trust/ew.deg) AS inflow
    FROM ew JOIN r2 ON r2.doc_id = ew.src GROUP BY ew.dst) s USING (doc_id))
SELECT doc_id, round(trust, 9) AS trust,
       round(trust, 9) > 0.0 AS reachable
FROM r3
"""


@register("web_trustrank", _TRUSTRANK_ORACLE)
def q_web_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TrustRank (Gyongyi et al.): PageRank personalized to the vetted
    # seed set doc_id % 50 == 0 — teleport mass goes ONLY to seeds, so
    # trust decays with link distance and spam demotion falls out; same
    # iterated-shuffle shape as web_pagerank, only the teleport CASE
    # differs. Oracle = three unrolled power steps.
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.trustrank(docs, n_docs=docs.count(), iterations=3)


@register(
    "web_bfs_depth",
    """
WITH RECURSIVE
cnt AS (SELECT count(*) AS n FROM documents),
ch AS (
  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
  WHERE doc_id % 7 <> 6 AND doc_id + 1 < (SELECT n FROM cnt)),
br AS (
  SELECT doc_id AS src, doc_id + 15 AS dst FROM documents
  WHERE doc_id % 35 = 0 AND doc_id + 15 < (SELECT n FROM cnt)),
e AS (
  SELECT src, dst FROM ch UNION SELECT src, dst FROM br
  UNION SELECT dst, src FROM ch UNION SELECT dst, src FROM br),
bfs (doc_id, d) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % 50 = 0
  UNION
  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.doc_id
  WHERE bfs.d < 16),
md AS (SELECT doc_id, min(d) AS d FROM bfs GROUP BY doc_id)
SELECT doc.doc_id,
       CAST(coalesce(md.d, -1) AS BIGINT) AS depth,
       md.d IS NOT NULL AS reachable
FROM documents doc LEFT JOIN md USING (doc_id)
""",
)
def q_web_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frontier-parallel BFS: min hop distance from the seed set over
    # the sparse chain+bridge graph, capped at 16 hops (-1 beyond);
    # settled nodes never re-enter the join; fixpoint = settled-count
    # scalar reduced with each round's materialize. Oracle =
    # hop-bounded recursive-CTE closure (tractable: components are
    # small at oracle SF; the Spark side never materializes paths).
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    edges = linkgraph.synth_sparse_edges(docs, n_docs=docs.count())
    seeds = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id")
    return linkgraph.bfs_depth(docs.select("doc_id"), edges, seeds)


@register(
    "web_host_graph",
    """
WITH cnt AS (SELECT count(*) AS n FROM documents),
j AS (
  SELECT doc_id AS src,
         unnest(generate_series(0, doc_id % 3 + 1)) AS j
  FROM documents),
e AS (
  SELECT src, (src*7 + j*13 + 1) % (SELECT n FROM cnt) AS dst
  FROM j
  WHERE (src*7 + j*13 + 1) % (SELECT n FROM cnt) <> src),
sh AS (SELECT doc_id, source || '.example.com' AS host FROM documents)
SELECT s.host AS src_host, d.host AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT e.src) AS BIGINT) AS n_src_docs,
       s.host = d.host AS intra_host
FROM e JOIN sh s ON s.doc_id = e.src JOIN sh d ON d.doc_id = e.dst
GROUP BY s.host, d.host
""",
)
def q_web_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # host-graph condensation (10^12 pages -> ~10^7 hosts): source host
    # derived IN the edge's source row (no join), one corpus equi-join
    # carries the destination host, then a map-side-combinable agg to
    # the tiny host-by-host table
    from pero_ocr_spark.operators import linkgraph

    docs = _t(spark, sf_dir, "documents")
    return linkgraph.host_graph(docs, n_docs=docs.count())


@register(
    "html_table_markdown",
    """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
k AS (SELECT doc_id, ws, CAST(len(ws)//6 AS INT) AS nd FROM w),
r AS (
  SELECT doc_id,
         CAST(unnest(generate_series(0, nd - 1)) AS INT) AS ri, ws
  FROM k WHERE nd > 0
),
line AS (
  SELECT doc_id, ri,
         '| ' || array_to_string(list_slice(ws, ri*6+1, ri*6+2), ' ') ||
         ' | ' || array_to_string(list_slice(ws, ri*6+3, ri*6+4), ' ') ||
         ' | ' || array_to_string(list_slice(ws, ri*6+5, ri*6+6), ' ') ||
         ' |' AS t
  FROM r
),
body AS (
  SELECT doc_id, string_agg(t, chr(10) ORDER BY ri) AS bt,
         count(*) AS ndr
  FROM line GROUP BY doc_id
)
SELECT k.doc_id, 0 AS table_id,
       CAST(1 + coalesce(b.ndr, 0) AS INT) AS n_rows,
       3 AS n_cols,
       '| name | value | note |' || chr(10) || '| --- | --- | --- |' ||
       CASE WHEN b.bt IS NULL THEN '' ELSE chr(10) || b.bt END AS markdown
FROM k LEFT JOIN body b USING (doc_id)
""",
)
def q_html_table_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # structured-data extraction: synthesized table page -> grid-
    # complete cell parse (one narrow mapInPandas; rowspan/colspan
    # expanded in-stage) -> pure-Catalyst GFM markdown assembly (one
    # (doc_id, table_id) shuffle with map-side partial agg)
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    return H.tables_to_markdown(
        H.parse_html_tables(H.synthesize_html_tables(docs))
    )


@register(
    "html_render_markdown",
    """
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
),
par0 AS (
  SELECT doc_id, ws,
         CAST(unnest(generate_series(0, (len(ws)-1)//12)) AS INT) AS pi
  FROM w
),
par AS (
  SELECT doc_id, pi,
         CASE WHEN pi % 3 = 2
                   AND len(list_slice(ws, pi*12+1, pi*12+12)) = 12
              THEN '[' || array_to_string(list_slice(ws, pi*12+1, pi*12+2), ' ')
                   || '](#r) '
                   || array_to_string(list_slice(ws, pi*12+3, pi*12+12), ' ')
              ELSE array_to_string(list_slice(ws, pi*12+1, pi*12+12), ' ')
         END
         || CASE WHEN pi % 2 = 1
                 THEN chr(10) || chr(10) || '![](img://' || doc_id || '/' || pi || ')'
                 ELSE '' END AS blk
  FROM par0
),
pb AS (
  SELECT doc_id, string_agg(blk, chr(10) || chr(10) ORDER BY pi) AS paras
  FROM par GROUP BY doc_id
),
tr AS (
  SELECT doc_id,
         CAST(unnest(generate_series(0, CAST(len(ws)//6 AS INT) - 1)) AS INT) AS ri,
         ws
  FROM w WHERE len(ws)//6 > 0
),
tl AS (
  SELECT doc_id, ri,
         '| ' || array_to_string(list_slice(ws, ri*6+1, ri*6+2), ' ') ||
         ' | ' || array_to_string(list_slice(ws, ri*6+3, ri*6+4), ' ') ||
         ' | ' || array_to_string(list_slice(ws, ri*6+5, ri*6+6), ' ') ||
         ' |' AS t
  FROM tr
),
tb AS (
  SELECT doc_id, string_agg(t, chr(10) ORDER BY ri) AS bt
  FROM tl GROUP BY doc_id
)
SELECT w.doc_id,
       '# ' || w.source || ' report' || chr(10) || chr(10) || pb.paras
       || chr(10) || chr(10)
       || '- ' || ws[1] || chr(10) || '- ' || ws[2] || chr(10) || '- ' || ws[3]
       || chr(10) || chr(10)
       || '| name | value | note |' || chr(10) || '| --- | --- | --- |'
       || CASE WHEN tb.bt IS NULL THEN '' ELSE chr(10) || tb.bt END AS markdown
FROM w JOIN pb USING (doc_id) LEFT JOIN tb USING (doc_id)
""",
)
def q_html_render_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full-page markdown rendering (the LLM-ingest document format):
    # ONE shuffle-free mapInPandas pass renders headings, inline
    # links, images, lists, blockquotes, and tables (grid parser ->
    # GFM) with furniture subtrees dropped; embarrassingly parallel
    # at any corpus size
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    return H.html_to_markdown(H.synthesize_html_rich(docs))


@register(
    "jsonl_ingest",
    """
WITH ok AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws
  FROM documents
  WHERE ((doc_id*69069 + 12345) % 2147483647) % 97 <> 13
),
par AS (
  SELECT doc_id, source, ws,
         CAST(unnest(generate_series(0, (len(ws)-1)//12)) AS INT) AS pi
  FROM ok
)
SELECT doc_id, source, pi AS ord,
       array_to_string(list_slice(ws, pi*12+1, pi*12+12), ' ') AS span_text
FROM par
""",
)
def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSONL interchange ingest: deterministic records (every 97th LCG
    # residue torn mid-line) -> from_json with an EXPLICIT schema
    # (never inference at 100 TB), PERMISSIVE quarantine of corrupt
    # lines, nested span explode AFTER validation — one narrow codegen
    # pass, zero shuffles, zero Python
    from pero_ocr_spark.sources import jsonl as J

    docs = _t(spark, sf_dir, "documents")
    return J.jsonl_spans(J.synthesize_jsonl(docs))


@register(
    "crawl_sitemap_discovery",
    """
WITH u AS (
  SELECT doc_id,
         source || '.example.com' AS host,
         'https://' || source || '.example.com/doc/' || doc_id AS url,
         printf('2024-01-%02d', CAST(doc_id % 28 + 1 AS INT)) AS lastmod,
         CASE WHEN doc_id % 10 = 0 THEN 0.9 ELSE 0.5 END AS priority,
         printf('2024-01-%02d', CAST((doc_id*31) % 28 + 1 AS INT)) AS fetched_at,
         ((doc_id*69069 + 12345) % 2147483647) % 10 AS r
  FROM documents
)
SELECT host, url, lastmod, priority,
       CASE WHEN r = 7 THEN 'new'
            WHEN lastmod > fetched_at THEN 'changed'
            ELSE 'fresh' END AS status
FROM u
""",
)
def q_crawl_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sitemap-driven recrawl: per-host urlset XML synthesized and
    # REALLY parsed (ElementTree, namespace-aware, one narrow python
    # stage), entries joined once against the crawl ledger -> the
    # O(new+changed) fetch queue instead of O(known URLs)
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    entries = W.parse_sitemaps(W.synth_sitemaps(docs))
    seen = docs.filter(
        F.pmod(F.col("doc_id") * 69_069 + 12_345, F.lit(2147483647)) % 10 != 7
    ).select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.format_string(
            "2024-01-%02d", ((F.col("doc_id") * 31) % 28 + 1).cast("int")
        ).alias("fetched_at"),
    )
    return W.sitemap_recrawl_verdicts(entries, seen)


@register(
    "html_extract_metadata",
    """
SELECT doc_id,
       source || ' report ' || CAST(doc_id AS VARCHAR) AS og_title,
       'article' AS og_type,
       printf('2024-01-%02d', CAST(doc_id % 28 + 1 AS INT)) AS article_date,
       source || ' desk' AS author,
       CAST(len(string_split(text, ' ')) AS INT) AS word_count
FROM documents
""",
)
def q_html_extract_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # page-metadata tier (trafilatura analog): OpenGraph tags + the
    # JSON-LD article record extracted in ONE narrow parser pass, the
    # JSON payload decoded by schema-pinned Catalyst from_json — the
    # typed (title, date, author) columns that drive corpus dating
    # and provenance filters
    from pero_ocr_spark.operators import html as H

    docs = _t(spark, sf_dir, "documents")
    meta = H.extract_page_metadata(H.synthesize_html_meta(docs))
    ld = F.from_json(F.col("ld_json"), "author string, wordCount int")
    return meta.select(
        "doc_id", "og_title", "og_type", "article_date",
        ld["author"].alias("author"),
        ld["wordCount"].alias("word_count"),
    )


@register(
    "crawl_robots_eval",
    """
WITH u AS (
  SELECT doc_id, source || '.example.com' AS host,
         CASE WHEN doc_id % 10 = 0
              THEN '/doc/open/' || CAST(doc_id AS VARCHAR)
              ELSE '/doc/' || CAST(doc_id AS VARCHAR) END AS path,
         CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 5 AS g
  FROM documents)
SELECT doc_id, host, path,
       CASE WHEN g = 0 THEN doc_id % 10 = 0
            WHEN g = 2 THEN NOT (path LIKE '%2')
            ELSE TRUE END AS allowed
FROM u
""",
)
def q_crawl_robots_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL robots.txt format: raw bodies parsed (RFC 9309-lite groups,
    # comments, wildcard + end-anchor patterns precompiled to regexes)
    # and applied with Google semantics — longest match wins, allow
    # beats disallow on ties, agent-specific group preempts '*';
    # upgrades the pre-parsed rule-table row to file-format fidelity
    from pero_ocr_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    rules = W.parse_robots_txt(W.synth_robots_txt(docs))
    urls = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("/doc/open/"), F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(F.lit("/doc/"), F.col("doc_id").cast("string"))
        ).alias("path"),
    )
    return W.robots_verdicts(urls, rules)


@register(
    "extract_spans_markdown",
    _EXTRACTED_CTE
    + """
, g AS (
  SELECT doc_id, kind, text, media_ref, ord,
         sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY ord) AS grp
  FROM extracted),
tb AS (
  SELECT doc_id, min(ord) AS bo, string_agg(text, ' ' ORDER BY ord) AS blk
  FROM g WHERE kind = 'text' GROUP BY doc_id, grp),
mb AS (
  SELECT doc_id, ord AS bo, '![](' || media_ref || ')' AS blk
  FROM g WHERE kind = 'media'),
ub AS (SELECT * FROM tb UNION ALL SELECT * FROM mb)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       string_agg(blk, chr(10) || chr(10) ORDER BY bo) AS markdown
FROM ub GROUP BY doc_id
""",
)
def q_extract_spans_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bridge between the two worlds: the OCR pipeline's extracted
    # span table renders to the SAME markdown document format the web
    # tier produces — media spans break paragraphs (gaps-and-islands
    # on a running media count), text runs join as paragraphs, blocks
    # interleave by reading order. One doc_id exchange shared by the
    # window and both aggregations.
    from pero_ocr_spark import corpus

    sp = corpus.extracted_spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("ord")
    g = sp.withColumn(
        "grp", F.sum((F.col("kind") == "media").cast("int")).over(w)
    )
    tb = (
        g.filter(F.col("kind") == "text")
        .groupBy("doc_id", "grp")
        .agg(
            F.min("ord").alias("bo"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("ord", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("blk"),
        )
        .drop("grp")
    )
    mb = g.filter(F.col("kind") == "media").select(
        "doc_id",
        F.col("ord").alias("bo"),
        F.concat(F.lit("![]("), F.col("media_ref"), F.lit(")")).alias("blk"),
    )
    ub = tb.unionByName(mb)
    return ub.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("bo", "blk"))),
                lambda s: s["blk"],
            ),
            "\n\n",
        ).alias("markdown"),
    )
