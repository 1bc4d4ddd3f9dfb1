"""HTML main-content extraction — boilerplate strip via DOM heuristics.

The north-star pipeline ingests interleaved web documents; before any
layout/recognition work the text side needs main-content extraction:
parse the HTML, segment the DOM into text blocks, classify each block
as content vs boilerplate from structural features (link density, word
count), and keep only the content blocks. This implements the
jusText / Boilerpipe family of heuristics Spark-first:

  * ``parse_html_blocks`` — the only Python stage: a stdlib
    ``html.parser`` DOM walk inside ``mapInPandas`` (Arrow batches; no
    per-row Python UDF). Emits one row per text block with structural
    features; the raw HTML never leaves the stage.
  * ``classify_blocks`` — pure Catalyst: context-free rules (link
    density > 1/3 → bad; ≥ ``min_words`` → good) followed by a
    jusText-style context-sensitive pass where undecided short blocks
    inherit "good" from the nearest decided neighbour, via two window
    scans (``last``/``first`` with ``ignorenulls``).
  * ``extract_main_content`` — parse → classify → re-assemble the kept
    blocks per document (one ordered-collect aggregation).
  * ``synthesize_html`` — deterministic page builder (pure column
    expressions) used by tests/benchmarks to round-trip the parser
    against a closed-form oracle, per the no-external-data rule.

Scale shape: parsing is a narrow per-row map — no shuffle, pushed
column pruning (only doc_id + html reach Python). Classification adds
one hash shuffle on doc_id shared by both window scans and the final
aggregation (Catalyst reuses the single Exchange). At 10^12 docs the
whole extractor is one shuffle wide; skew is bounded because block
counts per doc are bounded by page size.

Reference analog: pero-ocr removes page furniture via layout-position
filtering (regions outside the text area are dropped before
recognition); for web corpora the same role is played by DOM
heuristics (jusText: Pomikálek 2011, Boilerpipe: Kohlschütter 2010).
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import flat_map_in_pandas, spread_scan

# Block-level elements: opening or closing one terminates the current
# text block (jusText's paragraph segmentation rule). Inline elements
# (a, span, b, i, em, br, ...) do not break blocks.
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd td th tr table thead tbody "
    "nav aside footer header section article main blockquote pre form "
    "figure figcaption body".split()
)
# Subtrees whose text is never content.
SKIP_TAGS = frozenset({"script", "style", "noscript", "head", "template"})

MIN_WORDS = 8  # context-free "good" threshold (jusText length_low analog)
MAX_LINK_DENSITY = 1.0 / 3.0

BLOCK_SCHEMA = (
    "doc_id long, block_id int, tag string, text string, "
    "n_words int, n_link_words int"
)


class _BlockParser(HTMLParser):
    """Streaming DOM walk → list of (tag, n_words, n_link_words, text).

    Tolerates malformed markup the way browsers do: unclosed tags
    simply never pop, stray end tags are ignored, entities are decoded
    (``convert_charrefs``). A block is a maximal run of text not
    interrupted by a block-level tag; its ``tag`` is the innermost
    enclosing block element.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int, str]] = []
        self.links: list[tuple[str, str]] = []  # (href, anchor text)
        self._tag_stack: list[str] = []
        self._cur_tag = "body"
        self._words: list[str] = []
        self._link_words = 0
        self._link_depth = 0
        self._skip_depth = 0
        self._open_links: list[tuple[str, list[str]]] = []

    def _flush(self) -> None:
        if self._words:
            self.blocks.append(
                (self._cur_tag, len(self._words), self._link_words,
                 " ".join(self._words))
            )
        self._words = []
        self._link_words = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
        elif self._skip_depth:
            return
        elif tag == "a":
            self._link_depth += 1
            self._open_links.append((dict(attrs).get("href") or "", []))
        elif tag == "img":
            # media element: its own zero-word block carrying the src
            # as text, so the interleaved span model sees it in order
            self._flush()
            self.blocks.append(("img", 0, 0, dict(attrs).get("src") or ""))
        elif tag in BLOCK_TAGS:
            self._flush()
            self._tag_stack.append(self._cur_tag)
            self._cur_tag = tag

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif self._skip_depth:
            return
        elif tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
            if self._open_links:
                href, words = self._open_links.pop()
                self.links.append((href, " ".join(words)))
        elif tag in BLOCK_TAGS:
            self._flush()
            if self._tag_stack:
                self._cur_tag = self._tag_stack.pop()

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        words = data.split()
        if not words:
            return
        self._words.extend(words)
        if self._link_depth:
            self._link_words += len(words)
        if self._open_links:
            self._open_links[-1][1].extend(words)

    def finish(self) -> list[tuple[str, int, int, str]]:
        self.close()
        self._flush()
        while self._open_links:  # unclosed <a>: emit what it captured
            href, words = self._open_links.pop()
            self.links.append((href, " ".join(words)))
        return self.blocks


def parse_html_blocks(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, html) → one row per DOM text block with features.

    Narrow ``mapInPandas`` stage: column pruning pushes to the scan
    (only doc_id + html + ``carry`` cross the Arrow boundary), no
    shuffle. ``carry`` names extra string columns (e.g. the host)
    replicated onto every block row — cheaper than a corpus-sized
    join-back on doc_id afterwards. A starved single-file local scan
    is spread first so the Python DOM walk parallelizes (no-op on a
    multi-split corpus scan — the stage stays shuffle-free at scale).
    """
    pruned = spread_scan(df.select("doc_id", *carry, "html"))
    schema = BLOCK_SCHEMA + "".join(f", {c} string" for c in carry)

    def per_row(doc_id, *rest):
        *extras, html = rest
        if html is None:
            return  # a null page yields no blocks, not a crash
        parser = _BlockParser()
        parser.feed(html)
        for i, (tag, nw, lw, text) in enumerate(parser.finish()):
            yield doc_id, i, tag, text, nw, lw, *extras

    return flat_map_in_pandas(pruned, per_row, schema)


def classify_blocks(
    blocks: DataFrame,
    min_words: int = MIN_WORDS,
    max_link_density: float = MAX_LINK_DENSITY,
) -> DataFrame:
    """Add a ``cls`` column ('good' | 'bad') to a parsed-blocks frame.

    Context-free pass (pure column expressions):
      * link_density > max_link_density            → bad   (decided)
      * n_words ≥ min_words                        → good  (decided)
      * otherwise                                  → undecided
    Context-sensitive pass (two window scans over block order): an
    undecided block is good iff the nearest decided block before OR
    after it is good — jusText's neighbour-inheritance rule with the
    near-good tier collapsed.
    """
    density = F.col("n_link_words") / F.greatest(F.col("n_words"), F.lit(1))
    decided = (
        F.when(density > max_link_density, F.lit("bad"))
        .when(F.col("n_words") >= min_words, F.lit("good"))
    )  # null = undecided
    w = Window.partitionBy("doc_id").orderBy("block_id")
    prev_final = F.last(F.col("_cls0"), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_final = F.first(F.col("_cls0"), ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    return (
        blocks.withColumn("_cls0", decided)
        .withColumn(
            "cls",
            F.coalesce(
                F.col("_cls0"),
                F.when(
                    (prev_final == "good") | (next_final == "good"),
                    F.lit("good"),
                ).otherwise(F.lit("bad")),
            ),
        )
        .drop("_cls0")
    )


def classify_blocks_densitometric(blocks: DataFrame) -> DataFrame:
    """Boilerpipe's NumWordsRulesClassifier over a parsed-blocks frame.

    The published shallow-text-features decision tree (Kohlschütter,
    Fankhauser, Nejdl: "Boilerplate Detection using Shallow Text
    Features", WSDM 2010; boilerpipe NumWordsRulesClassifier): each
    block is judged from (prev, curr, next) word counts and link
    densities only. Absent neighbours count as empty blocks (0 words,
    0 density), matching the reference classifier.

    Pure Catalyst: two lag/lead window scans on the same (doc_id,
    block_id) ordering the jusText classifier already uses — in a
    combined plan Catalyst shares the single exchange. Emits
    ``cls`` = 'content' | 'boilerplate'.
    """
    w = Window.partitionBy("doc_id").orderBy("block_id")
    ld = F.col("n_link_words") / F.greatest(F.col("n_words"), F.lit(1))
    step = blocks.withColumn("_ld", ld).select(
        "*",
        F.coalesce(F.lag("n_words").over(w), F.lit(0)).alias("_pw"),
        F.coalesce(F.lead("n_words").over(w), F.lit(0)).alias("_nw"),
        F.coalesce(F.lag("_ld").over(w), F.lit(0.0)).alias("_pld"),
    )
    content = F.when(
        F.col("_ld") <= 0.333333,
        F.when(
            F.col("_pld") <= 0.555556,
            (F.col("n_words") > 16) | (F.col("_nw") > 15) | (F.col("_pw") > 4),
        ).otherwise((F.col("n_words") > 40) | (F.col("_nw") > 17)),
    ).otherwise(F.lit(False))
    return step.withColumn(
        "cls", F.when(content, F.lit("content")).otherwise(F.lit("boilerplate"))
    ).drop("_ld", "_pw", "_nw", "_pld")


def extract_main_content(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → (doc_id, main_text, n_kept, n_blocks).

    End-to-end boilerplate strip: parse → classify → keep good blocks
    → re-assemble in block order. One shuffle (doc_id) shared by the
    windows and the aggregation. Documents whose every block is
    boilerplate yield main_text = '' (kept, so the output is a total
    function of the input — filtering is the caller's policy).
    """
    cls = classify_blocks(parse_html_blocks(pages))
    kept = F.when(
        F.col("cls") == "good", F.struct("block_id", "text")
    )  # null for dropped blocks → collect_list skips them
    return cls.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept)), lambda s: s["text"]
            ),
            " ",
        ).alias("main_text"),
        F.sum((F.col("cls") == "good").cast("long")).alias("n_kept"),
        F.count(F.lit(1)).alias("n_blocks"),
    )


# ------------------------------------------------------------------
# Deterministic page synthesis (test/bench substrate — pure Catalyst)
# ------------------------------------------------------------------

PARA_WORDS = 12  # words per synthesized paragraph
_NAV = '<nav><a href="/">home</a> <a href="/about">about</a> <a href="/c">contact</a></nav>'
_ASIDE = '<aside><a href="/ad1">buy now</a> <a href="/ad2">subscribe today</a></aside>'
_FOOTER = '<footer><a href="/tos">terms</a> <a href="/priv">privacy</a> copyright</footer>'
_HEAD = "<html><head><title>meta title</title><script>var x=1;</script></head><body>"
_TAIL = "</body></html>"


def synthesize_html(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """documents(doc_id, text, source) → (doc_id, *keep, html).

    Deterministic web-page shell around the document text: constant
    nav/aside/footer furniture (link-dense → boilerplate), an h1 from
    ``source``, and the text chunked into 12-word ``<p>`` blocks —
    every third full paragraph carries an inline ``<a>`` around its
    first two words (link density 1/6, still content). Pure column
    expressions, so a closed-form SQL oracle can predict the
    extractor's output exactly.
    """
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.floor((n - 1) / PARA_WORDS).cast("int"))

    def para(i):
        chunk = F.slice(words, i * PARA_WORDS + 1, PARA_WORDS)
        linked = (i % 3 == F.lit(2)) & (F.size(chunk) == PARA_WORDS)
        return F.when(
            linked,
            F.concat(
                F.lit('<p><a href="#r">'),
                F.array_join(F.slice(chunk, 1, 2), " "),
                F.lit("</a> "),
                F.array_join(F.slice(chunk, 3, PARA_WORDS - 2), " "),
                F.lit("</p>"),
            ),
        ).otherwise(
            F.concat(F.lit("<p>"), F.array_join(chunk, " "), F.lit("</p>"))
        )

    html = F.concat(
        F.lit(_HEAD),
        F.lit(_NAV),
        F.lit("<h1>"), F.col("source"), F.lit(" report</h1>"),
        F.lit('<div class="content">'),
        F.array_join(F.transform(idx, para), ""),
        F.lit("</div>"),
        F.lit(_ASIDE),
        F.lit(_FOOTER),
        F.lit(_TAIL),
    )
    return docs.select("doc_id", *keep, html.alias("html"))


def html_to_spans(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → interleaved span sequence
    (doc_id, ord, kind, text, media_ref) — the engine's native
    document model (kind='text' content blocks, kind='media' image
    refs, dense reading-order offsets).

    This is the web-ingest front door of the north-star pipeline: DOM
    parse → boilerplate classification → the surviving blocks become
    ordered spans. ``<img>`` elements ride the same neighbour
    inheritance as short text blocks, so an image inside the content
    column is kept while footer/sidebar imagery is dropped with its
    surroundings. Same single doc_id shuffle as the classifier; the
    final row_number reuses the window partitioning.
    """
    cls = classify_blocks(parse_html_blocks(pages))
    good = cls.filter(F.col("cls") == "good")
    w = Window.partitionBy("doc_id").orderBy("block_id")
    is_media = F.col("tag") == "img"
    return good.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("ord"),
        F.when(is_media, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
        F.when(~is_media, F.col("text")).alias("text"),
        F.when(is_media, F.col("text")).alias("media_ref"),
    )


LINK_SCHEMA = "doc_id long, link_id int, href string, anchor string"


def parse_html_outlinks(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, html) → one row per ``<a href>`` in document order,
    with the link's anchor text. Same narrow mapInPandas shape as
    :func:`parse_html_blocks` (one parser walk; no shuffle); feeds the
    link-graph operators (PageRank, anchor-text harvest) from real
    markup instead of a synthetic edge rule."""
    pruned = df.select("doc_id", *carry, "html")
    schema = LINK_SCHEMA + "".join(f", {c} string" for c in carry)

    def per_row(doc_id, *rest):
        *extras, html = rest
        if html is None:
            return  # a null page yields no links, not a crash
        parser = _BlockParser()
        parser.feed(html)
        parser.finish()
        for i, (href, anchor) in enumerate(parser.links):
            yield doc_id, i, href, anchor, *extras

    return flat_map_in_pandas(pruned, per_row, schema)


def resolve_href(href: Column, host: Column, base: Column) -> Column:
    """Resolve an href against its page: fragments stick to the base
    URL, absolute URLs pass through, root- and page-relative paths
    join the host. Pure column expression (codegen)."""
    return (
        F.when(href.startswith("#"), F.concat(base, href))
        .when(href.startswith("http"), href)
        .when(href.startswith("/"), F.concat(F.lit("https://"), host, href))
        .otherwise(F.concat(F.lit("https://"), host, F.lit("/"), href))
    )


# ------------------------------------------------------------------
# Inter-page template detection (site-level boilerplate)
# ------------------------------------------------------------------

TEMPLATE_DF_RATIO = 0.5  # block is template iff on ≥ half the host's pages
TEMPLATE_MIN_DOCS = 2    # ... and on at least this many distinct pages


def template_blocks(
    blocks: DataFrame,
    host_col: str = "host",
    df_ratio: float = TEMPLATE_DF_RATIO,
    min_docs: int = TEMPLATE_MIN_DOCS,
) -> DataFrame:
    """Per-host template fingerprints from a parsed-blocks frame.

    jusText/Boilerpipe decide per page from structure; real site
    furniture is better caught ACROSS pages: a block whose normalized
    content repeats on most pages of its host is template chrome no
    matter how long or link-free it is (CleanEval / Templater-style
    inter-page template detection). Emits one row per (host, block
    fingerprint) that crosses the document-frequency bar.

    Scale shape: ONE hash shuffle on (host, fp) with map-side partial
    aggregation — the fingerprint is a 64-bit hash so long block texts
    never shuffle; the host page-count side-table aggregates on the
    same pass and broadcasts (one row per host). The HAVING bar means
    the output is bounded by hosts × template-blocks-per-site, orders
    of magnitude smaller than the corpus — broadcastable downstream.
    Collision note: distinct (tag, text) pairs colliding in xxhash64
    within one host would merge their document frequencies; at ~10^4
    blocks per host the 64-bit birthday bound makes this negligible.
    """
    fp = F.xxhash64(F.col("tag"), F.col("text"))
    # distinct doc count per (host, fp): a block repeated inside one
    # page still counts that page once
    per_block = (
        blocks.groupBy(F.col(host_col).alias("host"), fp.alias("fp"))
        .agg(F.count_distinct("doc_id").alias("doc_freq"))
    )
    host_docs = (
        blocks.groupBy(F.col(host_col).alias("host"))
        .agg(F.count_distinct("doc_id").alias("host_docs"))
    )
    return (
        per_block.join(F.broadcast(host_docs), "host")
        .filter(
            (F.col("doc_freq") >= min_docs)
            & (F.col("doc_freq") >= F.col("host_docs") * df_ratio)
        )
        .select("host", "fp", "doc_freq", "host_docs")
    )


def strip_template_blocks(
    pages: DataFrame,
    host_col: str = "host",
    df_ratio: float = TEMPLATE_DF_RATIO,
    min_docs: int = TEMPLATE_MIN_DOCS,
) -> DataFrame:
    """(doc_id, host, html) → surviving blocks as ordered spans.

    Two-pass template strip: pass 1 learns each host's template
    fingerprints (one (host, fp) shuffle over the parsed blocks),
    pass 2 anti-joins the same blocks against them and re-ranks the
    survivors into dense reading order. The template table is
    site-bounded, so the anti-join broadcasts; the blocks frame is
    the only corpus-sized input and is exchanged once (doc_id windows).
    Complementary to :func:`classify_blocks`: catches long, link-free
    chrome (cookie banners, related-story widgets) that per-page
    heuristics keep, while leaving short unique content untouched.
    """
    blocks = parse_html_blocks(pages, carry=(host_col,))
    tpl = template_blocks(blocks, host_col, df_ratio, min_docs)
    fp = F.xxhash64(F.col("tag"), F.col("text"))
    kept = (
        blocks.withColumn("fp", fp)
        .withColumnRenamed(host_col, "host")
        .join(F.broadcast(tpl.select("host", "fp")), ["host", "fp"], "left_anti")
    )
    w = Window.partitionBy("doc_id").orderBy("block_id")
    is_media = F.col("tag") == "img"
    return kept.select(
        "doc_id",
        "host",
        (F.row_number().over(w) - 1).cast("long").alias("ord"),
        F.when(is_media, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
        F.when(~is_media, F.col("text")).alias("text"),
        F.when(is_media, F.col("text")).alias("media_ref"),
    )


def ensemble_extract(
    pages: DataFrame,
    host_col: str = "host",
    df_ratio: float = TEMPLATE_DF_RATIO,
    min_docs: int = TEMPLATE_MIN_DOCS,
) -> DataFrame:
    """Ensemble main-content extraction over three boilerplate
    signals: inter-page template frequency VETOES (repetition across a
    site's pages is direct evidence of chrome — the two per-page
    classifiers are correlated and would jointly re-admit a long
    link-free banner under a naive majority vote), then jusText
    neighbour inheritance and Boilerpipe's densitometric tree vote by
    OR — a block one per-page family recognizes as content survives
    the other's idiosyncratic miss (jusText rescues short notes via
    neighbours; densitometric rescues isolated long paragraphs).

    Plan shape: ONE parser pass feeds all three; jusText and
    densitometric share the (doc_id, block_id) window exchange, the
    template table is site-bounded and broadcast. Output is the
    ordered span model (doc_id, ord, kind, text, media_ref).
    """
    blocks = parse_html_blocks(pages, carry=(host_col,)).withColumnRenamed(
        host_col, "host"
    )
    jt = classify_blocks(blocks).withColumnRenamed("cls", "cls_jt")
    both = classify_blocks_densitometric(jt).withColumnRenamed("cls", "cls_dens")
    tpl = template_blocks(blocks, "host", df_ratio, min_docs)
    fp = F.xxhash64(F.col("tag"), F.col("text"))
    flagged = both.withColumn("fp", fp).join(
        F.broadcast(tpl.select("host", "fp", F.lit(True).alias("_tpl"))),
        ["host", "fp"],
        "left",
    )
    keep = F.col("_tpl").isNull() & (
        (F.col("cls_jt") == "good") | (F.col("cls_dens") == "content")
    )
    kept = flagged.filter(keep)
    w = Window.partitionBy("doc_id").orderBy("block_id")
    is_media = F.col("tag") == "img"
    return kept.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("ord"),
        F.when(is_media, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
        F.when(~is_media, F.col("text")).alias("text"),
        F.when(is_media, F.col("text")).alias("media_ref"),
    )


# ------------------------------------------------------------------
# Table extraction (structured data → markdown linearization)
# ------------------------------------------------------------------

TABLE_SCHEMA = (
    "doc_id long, table_id int, row_id int, col_id int, "
    "is_header boolean, text string"
)


class _TableParser(HTMLParser):
    """Streaming ``<table>`` walk → grid-complete cell list.

    Produces one entry per GRID POSITION (not per source cell):
    ``rowspan``/``colspan`` anchors carry the cell text at their
    top-left position and pad the covered positions with empty cells,
    using the standard occupancy algorithm (per-column "claimed for N
    more rows" counters). Ragged rows are padded to the table's final
    width in :meth:`finish`, so every emitted table is rectangular —
    which is what makes the downstream markdown assembly a pure
    column-expression pass. Nested tables get their own ``table_id``
    (document order of ``<table>`` open tags); their text does not
    leak into the outer cell. Malformed markup degrades the way
    browsers degrade: unclosed ``td``/``tr`` are flushed by the next
    opener or the table end, stray end tags are ignored.

    Reference analog: pero-ocr linearizes 2-D page structure into a
    1-D reading order (``core/layout.py`` reading-order export); for
    web corpora the same role is played by table→markdown
    linearization so the span model stays text-native.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        # finished tables: list of list-of-rows; row = [(is_header, text)]
        self.tables: list[list[list[tuple[bool, str]]]] = []
        self._stack: list[dict] = []  # open-table contexts
        self._n_seen = 0

    # -- per-table context helpers ---------------------------------
    def _ctx(self):
        return self._stack[-1] if self._stack else None

    def _close_cell(self, ctx) -> None:
        if ctx["cell"] is None:
            return
        is_header, words, rowspan, colspan = ctx["cell"]
        row = ctx["rows"][-1]
        col = len(row)
        while col < len(ctx["claim"]) and ctx["claim"][col] > 0:
            row.append((False, ""))  # position covered by a rowspan above
            col += 1
        text = " ".join(words)
        for j in range(max(1, colspan)):
            row.append((is_header, text if j == 0 else ""))
            pos = col + j
            if rowspan > 1:
                while len(ctx["claim"]) <= pos:
                    ctx["claim"].append(0)
                # claim counts rows covered INCLUDING the anchor's own
                # row; _close_row decrements once per finished row, so
                # the column stays claimed for the next rowspan-1 rows.
                ctx["claim"][pos] = rowspan
        ctx["cell"] = None

    def _close_row(self, ctx) -> None:
        self._close_cell(ctx)
        if ctx["in_row"]:
            # trailing positions claimed by rowspans still pad this row
            row = ctx["rows"][-1]
            col = len(row)
            while col < len(ctx["claim"]) and ctx["claim"][col] > 0:
                row.append((False, ""))
                col += 1
            ctx["claim"] = [max(0, c - 1) for c in ctx["claim"]]
            ctx["in_row"] = False

    # -- HTMLParser hooks -------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "table":
            self._stack.append(
                {"id": self._n_seen, "rows": [], "claim": [],
                 "cell": None, "in_row": False}
            )
            self._n_seen += 1
            return
        ctx = self._ctx()
        if ctx is None:
            return
        if tag == "tr":
            self._close_row(ctx)
            ctx["rows"].append([])
            ctx["in_row"] = True
        elif tag in ("td", "th"):
            if not ctx["in_row"]:  # cell outside <tr>: browsers imply one
                ctx["rows"].append([])
                ctx["in_row"] = True
            self._close_cell(ctx)
            a = dict(attrs)

            def _span(key):
                try:
                    return max(1, int(a.get(key) or 1))
                except ValueError:
                    return 1

            ctx["cell"] = (tag == "th", [], _span("rowspan"), _span("colspan"))

    def handle_endtag(self, tag: str) -> None:
        ctx = self._ctx()
        if ctx is None:
            return
        if tag == "table":
            self._close_row(ctx)
            self._stack.pop()
            self._emit(ctx)
        elif tag == "tr":
            self._close_row(ctx)
        elif tag in ("td", "th"):
            self._close_cell(ctx)

    def handle_data(self, data: str) -> None:
        ctx = self._ctx()
        if ctx is not None and ctx["cell"] is not None:
            ctx["cell"][1].extend(data.split())

    def _emit(self, ctx) -> None:
        rows = [r for r in ctx["rows"] if r]
        if not rows:
            return
        width = max(len(r) for r in rows)
        for r in rows:
            r.extend([(False, "")] * (width - len(r)))
        # keep document order even with nested tables (inner closes first)
        self.tables.append((ctx["id"], rows))

    def finish(self) -> list[tuple[int, list[list[tuple[bool, str]]]]]:
        self.close()
        while self._stack:  # unclosed <table>
            ctx = self._stack.pop()
            self._close_row(ctx)
            self._emit(ctx)
        self.tables.sort(key=lambda t: t[0])
        # re-densify ids: empty tables emitted nothing
        return [(i, rows) for i, (_, rows) in enumerate(self.tables)]


def parse_html_tables(df: DataFrame) -> DataFrame:
    """(doc_id, html) → one row per table GRID position.

    Same narrow ``mapInPandas`` shape as :func:`parse_html_blocks`:
    column pruning pushes to the scan, no shuffle, the HTML never
    leaves the Python stage. Emits a rectangular grid per table
    (rowspan/colspan already expanded), so every downstream consumer
    is pure Catalyst.
    """
    pruned = spread_scan(df.select("doc_id", "html"))

    def per_row(doc_id, html):
        if html is None:
            return  # null page -> no tables, not a crash
        parser = _TableParser()
        parser.feed(html)
        for tid, rows in parser.finish():
            for ri, row in enumerate(rows):
                for ci, (hdr, text) in enumerate(row):
                    yield doc_id, tid, ri, ci, hdr, text

    return flat_map_in_pandas(pruned, per_row, TABLE_SCHEMA)


def tables_to_markdown(cells: DataFrame) -> DataFrame:
    """Grid cells → (doc_id, table_id, n_rows, n_cols, markdown).

    GitHub-flavored-markdown linearization: if row 0 is entirely
    header cells it becomes the header line, otherwise an empty header
    of the right width is synthesized (GFM requires one); a ``---``
    separator; then the data rows. Pipe characters in cell text are
    escaped. Pure Catalyst: ONE hash shuffle on (doc_id, table_id)
    with map-side partial aggregation — rows are assembled inside the
    same aggregation via sorted struct collection, so at 10^12 docs
    the operator is one exchange wide and output rows are
    table-bounded (far smaller than the cell input).
    """
    esc = F.replace(F.col("text"), F.lit("|"), F.lit("\\|"))
    # ONE aggregation does everything: the corpus-sized cell stream is
    # exchanged exactly once (a per-row grouping before per-table
    # grouping would ship the same bytes through a second exchange).
    # Rows are re-derived in-row from the sorted cell array; the
    # per-row filter() over it is O(rows·cells) on a page-bounded
    # table, and `cells` is a bound aggregation output, not an inline
    # array builder, so HOF lambdas don't re-evaluate it per element.
    per_table = cells.groupBy("doc_id", "table_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("row_id", "col_id", F.col("is_header").alias("h"),
                         esc.alias("t"))
            )
        ).alias("cells"),
        (F.max("row_id") + 1).alias("n_rows"),
        (F.max("col_id") + 1).alias("n_cols"),
    )

    def line(r):
        return F.concat(
            F.lit("| "),
            F.array_join(
                F.transform(
                    F.filter(F.col("cells"), lambda c: c["row_id"] == r),
                    lambda c: c["t"],
                ),
                " | ",
            ),
            F.lit(" |"),
        )

    lines = F.transform(
        F.sequence(F.lit(0), F.col("n_rows") - 1), lambda r: line(r)
    )
    head_is_hdr = F.forall(
        F.filter(F.col("cells"), lambda c: c["row_id"] == 0), lambda c: c["h"]
    )
    sep = F.concat(
        F.lit("| "),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.col("n_cols")), lambda _: F.lit("---")),
            " | ",
        ),
        F.lit(" |"),
    )
    empty_header = F.concat(
        F.lit("|"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.col("n_cols")), lambda _: F.lit("  ")),
            "|",
        ),
        F.lit("|"),
    )
    staged = per_table.select(
        "doc_id", "table_id", "n_rows", "n_cols",
        lines.alias("lines"), head_is_hdr.alias("head_hdr"),
    )
    body = F.array_join(
        F.when(F.col("head_hdr"),
               F.slice("lines", 2, F.col("n_rows") - 1))
        .otherwise(F.col("lines")),
        "\n",
    )
    header = F.when(F.col("head_hdr"), F.element_at("lines", 1)).otherwise(
        empty_header
    )
    return staged.select(
        "doc_id",
        "table_id",
        "n_rows",
        "n_cols",
        F.concat(
            header, F.lit("\n"), sep,
            F.when(F.length(body) > 0, F.concat(F.lit("\n"), body)).otherwise(
                F.lit("")
            ),
        ).alias("markdown"),
    )


def _data_table(words: Column) -> Column:
    """The synthetic ``<table>``: a ``name value note`` header row plus
    ``len(words)//6`` data rows of three 2-word cells."""
    nd = F.floor(F.size(words) / 6).cast("int")

    def cell(r, c):
        return F.concat(
            F.lit("<td>"),
            F.array_join(F.slice(words, r * 6 + c * 2 + 1, 2), " "),
            F.lit("</td>"),
        )

    def row(r):
        return F.concat(
            F.lit("<tr>"), cell(r, F.lit(0)), cell(r, F.lit(1)),
            cell(r, F.lit(2)), F.lit("</tr>"),
        )

    rows = F.array_join(F.transform(F.sequence(F.lit(0), nd - 1), row), "")
    return F.concat(
        F.lit("<table><tr><th>name</th><th>value</th><th>note</th></tr>"),
        F.when(nd > 0, rows).otherwise(F.lit("")),
        F.lit("</table>"),
    )


def synthesize_html_tables(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) → (doc_id, html) with one data table.

    Deterministic substrate for the table extractor: a header row
    (``name value note``) plus ``len(words)//6`` data rows of three
    2-word cells, wrapped in the standard page shell so the parser
    must skip non-table furniture. Pure column expressions → the
    markdown output has a closed-form SQL oracle.
    """
    html = F.concat(
        F.lit(_HEAD),
        F.lit(_NAV),
        _data_table(F.split(F.col("text"), " ")),
        F.lit(_FOOTER),
        F.lit(_TAIL),
    )
    return docs.select("doc_id", html.alias("html"))


# ------------------------------------------------------------------
# Full-page markdown rendering (the LLM-ingest document format)
# ------------------------------------------------------------------

# Furniture subtrees dropped by default when rendering to markdown —
# the per-page analog of the block classifier's 'bad' verdict for
# structurally-obvious chrome. (Content-level boilerplate still goes
# through classify_blocks/ensemble_extract; this gate is for rendering
# pipelines that want the whole page minus navigation.)
FURNITURE_TAGS = frozenset({"nav", "aside", "footer", "header"})

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


class _MarkdownParser(HTMLParser):
    """Streaming HTML → ordered markdown blocks.

    One walk renders the whole document: headings → ``#``·n, inline
    ``<a>`` → ``[text](href)``, ``<img>`` → its own ``![](src)``
    block, ``<ul>``/``<ol>`` → one block of ``- ``/``1. `` items
    (nested lists indent two spaces per level), ``<blockquote>`` →
    ``> `` prefix, ``<pre>`` → fenced code, and ``<table>`` subtrees
    are routed to :class:`_TableParser` and re-emitted as one GFM
    block (identical assembly rules to :func:`tables_to_markdown` —
    pinned by a cross-parity test). Script/style/head text never
    renders; nav/aside/footer/header subtrees are dropped when
    ``drop_furniture`` (the default). Malformed markup degrades like
    the other parsers: unclosed tags never pop, stray end tags are
    ignored.
    """

    def __init__(self, drop_furniture: bool = True) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._drop = FURNITURE_TAGS if drop_furniture else frozenset()
        self._skip_depth = 0
        self._drop_depth = 0
        self._words: list[str] = []
        self._prefix = ""  # current block prefix ('# ', '> ', ...)
        self._open_links: list[tuple[str, int]] = []  # (href, word start)
        self._lists: list[dict] = []  # {'ordered': bool, 'n': int}
        self._items: list[str] = []  # rendered items of the open list run
        self._in_li = False
        self._pre_depth = 0
        self._table: _TableParser | None = None
        self._table_depth = 0

    # -- block assembly ---------------------------------------------
    def _flush(self) -> None:
        while self._open_links:  # unclosed <a>: wrap what it captured
            self._wrap_link(*self._open_links.pop())
        if not self._words:
            # keep the prefix: a NESTED block start inside the owning
            # element (<blockquote><p>x</p>...) flushes empty here and
            # the '>' still belongs to x; the owning element's END tag
            # clears a never-consumed prefix (empty/icon-only heading)
            return
        text = " ".join(self._words)
        self._words = []
        if self._lists:
            ctx = self._lists[-1]
            indent = "  " * (len(self._lists) - 1)
            bullet = f"{ctx['n']}. " if ctx["ordered"] else "- "
            self._items.append(indent + bullet + text)
        elif self._pre_depth:
            self.blocks.append("```\n" + text + "\n```")
        else:
            self.blocks.append(self._prefix + text)
            self._prefix = ""

    def _flush_list(self) -> None:
        if self._items and not self._lists:
            self.blocks.append("\n".join(self._items))
            self._items = []

    def _emit_pending_items(self) -> None:
        # forced flush for a block element interrupting an open list:
        # buffered items must land BEFORE the interrupting block
        if self._items:
            self.blocks.append("\n".join(self._items))
            self._items = []

    def _wrap_link(self, href: str, start: int) -> None:
        anchor = " ".join(self._words[start:])
        if anchor:
            self._words[start:] = [f"[{anchor}]({href})"]

    # -- HTMLParser hooks -------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if self._table is not None:
            self._table.handle_starttag(tag, attrs)
            if tag == "table":
                self._table_depth += 1
            return
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag in self._drop:
            self._drop_depth += 1
            return
        if self._skip_depth or self._drop_depth:
            return
        if tag == "table":
            self._flush()
            self._emit_pending_items()
            self._table = _TableParser()
            self._table.handle_starttag(tag, attrs)
            self._table_depth = 1
        elif tag == "a":
            self._open_links.append((dict(attrs).get("href") or "", len(self._words)))
        elif tag == "img":
            src = dict(attrs).get("src") or ""
            if self._lists and self._in_li:
                # inline image inside the open list item — a separate
                # block would be emitted BEFORE the buffered items and
                # invert reading order
                self._words.append(f"![]({src})")
            else:
                # between items (or outside lists): pending items land
                # first so block order follows the source; never a
                # phantom <li>
                self._flush()
                self._emit_pending_items()
                self.blocks.append(f"![]({src})")
        elif tag in ("ul", "ol"):
            self._flush()
            self._lists.append({"ordered": tag == "ol", "n": 0})
        elif tag == "li":
            self._flush()
            if self._lists:
                self._lists[-1]["n"] += 1
                self._in_li = True
        elif tag in _HEADINGS:
            self._flush()
            self._flush_list()
            self._prefix = "#" * _HEADINGS[tag] + " "
        elif tag == "blockquote":
            self._flush()
            self._flush_list()
            self._prefix = "> "
        elif tag == "pre":
            self._flush()
            self._flush_list()
            self._pre_depth += 1
        elif tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if self._table is not None:
            self._table.handle_endtag(tag)
            if tag == "table":
                self._table_depth -= 1
                if self._table_depth == 0:
                    for _, rows in self._table.finish():
                        self.blocks.append(_grid_to_gfm(rows))
                    self._table = None
            return
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag in self._drop:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._skip_depth or self._drop_depth:
            return
        if tag == "a":
            if self._open_links:
                self._wrap_link(*self._open_links.pop())
        elif tag in ("ul", "ol"):
            self._flush()
            if self._lists:
                self._lists.pop()
            self._in_li = False
            self._flush_list()
        elif tag == "li":
            self._flush()
            self._in_li = False
        elif tag == "pre":
            self._flush()
            self._pre_depth = max(0, self._pre_depth - 1)
        elif tag in BLOCK_TAGS or tag in _HEADINGS:
            self._flush()
            if tag in _HEADINGS or tag == "blockquote":
                # an empty/icon-only heading or quote must not promote
                # the next unrelated block
                self._prefix = ""

    def handle_data(self, data: str) -> None:
        if self._table is not None:
            self._table.handle_data(data)
            return
        if self._skip_depth or self._drop_depth:
            return
        self._words.extend(data.split())

    def finish(self) -> str:
        self.close()
        if self._table is not None:  # unclosed <table>
            for _, rows in self._table.finish():
                self.blocks.append(_grid_to_gfm(rows))
            self._table = None
        self._flush()
        self._lists = []
        self._flush_list()
        return "\n\n".join(b for b in self.blocks if b)


def _grid_to_gfm(rows: list[list[tuple[bool, str]]]) -> str:
    """Grid-complete table rows → one GFM block. Same rules as the
    distributed :func:`tables_to_markdown` (header promotion, empty
    GFM header synthesis, pipe escaping) so the two render paths are
    interchangeable — cross-parity pytested."""
    def line(row):
        return "| " + " | ".join(t.replace("|", "\\|") for _, t in row) + " |"

    width = len(rows[0])
    sep = "| " + " | ".join(["---"] * width) + " |"
    if all(h for h, _ in rows[0]):
        header, body = line(rows[0]), rows[1:]
    else:
        header, body = "|" + "|".join(["  "] * width) + "|", rows
    out = [header, sep] + [line(r) for r in body]
    return "\n".join(out)


def html_to_markdown(df: DataFrame, drop_furniture: bool = True) -> DataFrame:
    """(doc_id, html) → (doc_id, markdown): render each page to the
    LLM-ingest document format in ONE narrow ``mapInPandas`` pass —
    no shuffle anywhere, column pruning pushes to the scan, output is
    one row per input row (the raw HTML never leaves the stage and
    the markdown is strictly smaller). The embarrassingly-parallel
    shape survives any corpus size unchanged."""
    pruned = spread_scan(df.select("doc_id", "html"))

    def per_row(doc_id, html):
        if html is None:
            return [(doc_id, "")]  # total function: null page -> empty doc
        parser = _MarkdownParser(drop_furniture=drop_furniture)
        parser.feed(html)
        return [(doc_id, parser.finish())]

    return flat_map_in_pandas(pruned, per_row, "doc_id long, markdown string")


def synthesize_html_rich(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, source) → (doc_id, html): the full-page
    substrate for the markdown renderer — h1, paragraphs (every third
    full one carries an inline link), an ``<img>`` after each odd
    paragraph, a 3-item ``<ul>`` of the first words, and the
    name/value/note data table, wrapped in the standard furniture
    shell. Pure column expressions → closed-form markdown oracle."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.floor((n - 1) / PARA_WORDS).cast("int"))

    def para(i):
        chunk = F.slice(words, i * PARA_WORDS + 1, PARA_WORDS)
        linked = (i % 3 == F.lit(2)) & (F.size(chunk) == PARA_WORDS)
        body = F.when(
            linked,
            F.concat(
                F.lit('<p><a href="#r">'),
                F.array_join(F.slice(chunk, 1, 2), " "),
                F.lit("</a> "),
                F.array_join(F.slice(chunk, 3, PARA_WORDS - 2), " "),
                F.lit("</p>"),
            ),
        ).otherwise(
            F.concat(F.lit("<p>"), F.array_join(chunk, " "), F.lit("</p>"))
        )
        img = F.concat(
            F.lit('<img src="img://'),
            F.col("doc_id").cast("string"),
            F.lit("/"),
            i.cast("string"),
            F.lit('">'),
        )
        return F.when(i % 2 == F.lit(1), F.concat(body, img)).otherwise(body)

    html = F.concat(
        F.lit(_HEAD),
        F.lit(_NAV),
        F.lit("<h1>"), F.col("source"), F.lit(" report</h1>"),
        F.lit('<div class="content">'),
        F.array_join(F.transform(idx, para), ""),
        F.lit("</div>"),
        F.lit("<ul><li>"), F.coalesce(F.element_at(words, 1), F.lit("")),
        F.lit("</li><li>"), F.coalesce(F.element_at(words, 2), F.lit("")),
        F.lit("</li><li>"), F.coalesce(F.element_at(words, 3), F.lit("")),
        F.lit("</li></ul>"),
        _data_table(words),
        F.lit(_ASIDE),
        F.lit(_FOOTER),
        F.lit(_TAIL),
    )
    return docs.select("doc_id", html.alias("html"))


def synthesize_html_interleaved(docs: DataFrame) -> DataFrame:
    """Like :func:`synthesize_html`, but with an ``<img>`` after every
    odd-indexed paragraph (``src="img://{doc_id}/{i}"``) — the
    deterministic interleaved text+media substrate for span tests."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.floor((n - 1) / PARA_WORDS).cast("int"))

    def para(i):
        chunk = F.slice(words, i * PARA_WORDS + 1, PARA_WORDS)
        p = F.concat(F.lit("<p>"), F.array_join(chunk, " "), F.lit("</p>"))
        img = F.concat(
            F.lit('<img src="img://'),
            F.col("doc_id").cast("string"),
            F.lit("/"),
            i.cast("string"),
            F.lit('">'),
        )
        return F.when(i % 2 == F.lit(1), F.concat(p, img)).otherwise(p)

    html = F.concat(
        F.lit(_HEAD),
        F.lit(_NAV),
        F.lit("<h1>"), F.col("source"), F.lit(" report</h1>"),
        F.lit('<div class="content">'),
        F.array_join(F.transform(idx, para), ""),
        F.lit("</div>"),
        F.lit(_ASIDE),
        F.lit(_FOOTER),
        F.lit(_TAIL),
    )
    return docs.select("doc_id", html.alias("html"))


# ------------------------------------------------------------------
# Page metadata extraction (OpenGraph + JSON-LD)
# ------------------------------------------------------------------

META_SCHEMA = (
    "doc_id long, og_title string, og_type string, article_date string, "
    "ld_json string"
)


class _MetaParser(HTMLParser):
    """Head-metadata walk: collects ``<meta property|name content>``
    pairs and the first ``<script type="application/ld+json">`` body.
    Runs over the whole document (real pages scatter meta tags), but
    touches only tag attributes + the one script body — text nodes
    outside the JSON-LD block are ignored."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.meta: dict[str, str] = {}
        self.ld_json: str | None = None
        self._in_ld = False
        self._ld_parts: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        a = dict(attrs)
        if tag == "meta":
            key = a.get("property") or a.get("name")
            if key and a.get("content") is not None and key not in self.meta:
                self.meta[key] = a["content"]
        elif tag == "script" and a.get("type") == "application/ld+json":
            if self.ld_json is None:
                self._in_ld = True

    def handle_endtag(self, tag: str) -> None:
        if tag == "script" and self._in_ld:
            self._in_ld = False
            self.ld_json = "".join(self._ld_parts)

    def handle_data(self, data: str) -> None:
        if self._in_ld:
            self._ld_parts.append(data)


def extract_page_metadata(df: DataFrame) -> DataFrame:
    """(doc_id, html) → typed page metadata: OpenGraph title/type, the
    article publish date (og `article:published_time` falling back to
    `date`), and the raw JSON-LD payload for downstream Catalyst
    ``from_json`` (schema-pinned, like every JSON parse in the
    engine). One narrow mapInPandas pass, one output row per page —
    no shuffle, no amplification."""
    pruned = spread_scan(df.select("doc_id", "html"))

    def per_row(doc_id, html):
        p = _MetaParser()
        if html is not None:
            p.feed(html)  # null page -> all-null metadata row
        date = p.meta.get("article:published_time") or p.meta.get("date")
        return [(doc_id, p.meta.get("og:title"), p.meta.get("og:type"),
                 date, p.ld_json)]

    return flat_map_in_pandas(pruned, per_row, META_SCHEMA)


def synthesize_html_meta(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, source) → (doc_id, html): the standard
    page shell with an OpenGraph head block and a schema.org JSON-LD
    article record (author + wordCount), the deterministic substrate
    for metadata extraction. Pure column expressions."""
    words = F.split(F.col("text"), " ")
    date = F.format_string(
        "2024-01-%02d", (F.col("doc_id") % 28 + 1).cast("int")
    )
    ld = F.to_json(
        F.struct(
            F.lit("Article").alias("@type"),
            F.concat(F.col("source"), F.lit(" desk")).alias("author"),
            F.size(words).alias("wordCount"),
        )
    )
    html = F.concat(
        F.lit("<html><head><title>t</title>"),
        F.lit('<meta property="og:title" content="'),
        F.col("source"), F.lit(" report "), F.col("doc_id").cast("string"),
        F.lit('">'),
        F.lit('<meta property="og:type" content="article">'),
        F.lit('<meta property="article:published_time" content="'),
        date, F.lit('">'),
        F.lit('<script type="application/ld+json">'), ld, F.lit("</script>"),
        F.lit("</head><body>"),
        F.lit(_NAV),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit(_FOOTER), F.lit(_TAIL),
    )
    return docs.select("doc_id", html.alias("html"))
