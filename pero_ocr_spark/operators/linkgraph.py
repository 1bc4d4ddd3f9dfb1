"""Web-graph operators: link-graph PageRank and host-level quality
priors.

The reference engine processes documents independently; a web-scale
corpus adds CROSS-document structure — the hyperlink graph — and the
canonical computations over it: centrality for crawl prioritization /
quality weighting (PageRank) and host-level aggregate priors (the
RefinedWeb/CCNet-style "URL and host curation" stage that precedes
per-document filtering).

Scale shapes:

* **PageRank** is the textbook iterated shuffle: each iteration joins
  the rank vector to the edge list on the source key and re-aggregates
  by destination. Neither side is broadcast — at 10^12 documents the
  rank vector IS corpus-sized — so both legs hash-partition on the
  join key, the edge list is persisted once (loop-invariant), and the
  iteration count is fixed (3 here), keeping lineage bounded without
  checkpoints. Dangling and orphan nodes take the teleport term via a
  left join from the node table, not an inner join from contributions.
* **Host priors** aggregate per-document quality to ~10^7 hosts (a
  1000× reduction), then broadcast the host table back onto the
  corpus: one map-side-combinable agg + one broadcast join, no window
  over the corpus (a `AVG OVER (PARTITION BY host)` would sort-shuffle
  every document row; the agg+broadcast shape moves only the host
  table).

The sandbox link graph is derived deterministically from doc_id
arithmetic (no external data): doc ``i`` links to
``(i*7 + j*13 + 1) mod N`` for ``j < 2 + i%3``, self-loops dropped —
contiguous ids make the modulus exact, and N comes from table metadata
(an Iceberg snapshot row count at scale; a parquet footer count here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import materialize

DAMPING = 0.85


def synth_edges(docs: DataFrame, n_docs: int) -> DataFrame:
    """Deterministic link graph: (src, dst) with out-degree 2 + src%3,
    self-loops removed."""
    deg = (F.col("doc_id") % 3 + 2).cast("int")
    j = F.explode(F.sequence(F.lit(0), deg - 1)).alias("j")
    edges = docs.select(F.col("doc_id").alias("src"), j).select(
        "src",
        ((F.col("src") * 7 + F.col("j") * 13 + 1) % n_docs).alias("dst"),
    )
    return edges.filter(F.col("src") != F.col("dst"))


def synth_sparse_edges(docs: DataFrame, n_docs: int) -> DataFrame:
    """Deterministic SPARSE link graph for component-structure
    operators: chain edges ``(i, i+1)`` broken at every ``i % 7 == 6``
    (so the corpus splits into ~N/7 chains), plus a bridge
    ``(i, i+15)`` at every ``i % 35 == 0`` merging neighboring chains.
    Many components, diameters up to ~20+ — the long-thin regime where
    naive min-label propagation needs O(diameter) rounds and the
    large-star/small-star closure earns its keep."""
    i = F.col("doc_id")
    chains = docs.filter((i % 7 != 6) & (i + 1 < n_docs)).select(
        i.alias("src"), (i + 1).alias("dst")
    )
    bridges = docs.filter((i % 35 == 0) & (i + 15 < n_docs)).select(
        i.alias("src"), (i + 15).alias("dst")
    )
    return chains.unionByName(bridges)


def anchor_text_corpus(docs: DataFrame, n_docs: int) -> DataFrame:
    """Anchor-text harvesting: what the web SAYS about each page.

    The ``j``-th outlink of ``src`` carries the two-word anchor at word
    offset ``2j`` of ``src``'s text; anchors are aggregated per TARGET
    document — in-link count, distinct referring hosts, and the
    lexicographically first anchor (a deterministic representative).
    Search and corpus-curation stacks use exactly this artifact as an
    off-page quality/topic signal.

    Scale shape: the anchor is derived IN the source row (no
    edges↔docs join at all — the edge synthesis and the text live in
    the same row), so the whole operator is one explode + one
    map-side-combinable aggregation shuffled on ``dst``. In-degree
    skew (popular pages) is absorbed by the partial aggregates: only
    (dst, partial count/set/min) rows cross the wire, never the
    anchors of all 10^12 edges.
    """
    deg = (F.col("doc_id") % 3 + 2).cast("int")
    exploded = docs.select(
        F.col("doc_id").alias("src"),
        "source",
        F.split(F.col("text"), " ").alias("w"),
        F.explode(F.sequence(F.lit(0), deg - 1)).alias("j"),
    )
    edges = exploded.select(
        "src",
        "source",
        ((F.col("src") * 7 + F.col("j") * 13 + 1) % n_docs).alias("dst"),
        F.array_join(F.slice(F.col("w"), 2 * F.col("j") + 1, 2), " ").alias(
            "anchor"
        ),
    ).filter(F.col("src") != F.col("dst"))
    return edges.groupBy(F.col("dst").alias("doc_id")).agg(
        F.count("*").alias("n_anchors"),
        F.countDistinct("source").alias("n_src_hosts"),
        F.min("anchor").alias("top_anchor"),
    )


def pagerank(
    docs: DataFrame,
    n_docs: int,
    iterations: int = 3,
    damping: float = DAMPING,
) -> DataFrame:
    """(doc_id) + synthetic edges → (doc_id, rank) after ``iterations``
    power steps from the uniform vector: r' = (1-d)/N + d·Σ r_in/deg_in.
    """
    nodes = docs.select("doc_id")
    edges = synth_edges(docs, n_docs)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # loop-invariant: each edge carries its source's out-degree
    weighted = materialize(edges.join(outdeg, "src"))

    teleport = (1.0 - damping) / n_docs
    ranks = nodes.select("doc_id", F.lit(1.0 / n_docs).alias("rank"))
    for _ in range(iterations):
        contrib = (
            weighted.join(
                ranks.select(F.col("doc_id").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        ranks = nodes.join(contrib, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("doc_id", F.round("rank", 9).alias("rank"))


def host_quality_priors(
    docs: DataFrame, doc_weight: float = 0.5, threshold: float = 0.55
) -> DataFrame:
    """Host-level curation prior: per-document quality (the
    textstats.quality_score formula) blended with the document's host
    mean — ``combined = w·doc + (1-w)·host_mean`` — and a keep flag.

    host = ``{source}.example.com`` (the capture-table rule,
    sources/warc.py). Agg to hosts + broadcast join back; the corpus
    never re-shuffles.

    ``doc_weight`` defaults to 0.5 deliberately: both blend inputs are
    6-decimal-rounded, and an uneven weight pair like 0.7/0.3 lands
    the sum EXACTLY on the 7th-digit half-way boundary for a large
    fraction of rows, where Spark's and an oracle engine's double
    evaluation order can round differently. Halving is exact in binary
    floating point, so the 0.5 blend stays ~1 ulp from a 6-decimal
    value — never near the boundary."""
    from pero_ocr_spark.operators import textstats

    q = textstats.quality_score(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    scored = q.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.col("quality").alias("doc_quality"),
    )
    hosts = scored.groupBy("host").agg(
        F.round(F.avg("doc_quality"), 6).alias("host_prior"),
        F.count("*").cast("long").alias("host_docs"),
    )
    # NOT rounded: with the 0.5 blend both products are exact in
    # binary, so the sum is bit-identical across engines; rounding to
    # 6 here would land exactly on the 7th-digit half-way boundary
    # (inputs are 6-decimal) and make the result depend on 1-ulp
    # evaluation details
    combined = (
        doc_weight * F.col("doc_quality")
        + (1.0 - doc_weight) * F.col("host_prior")
    )
    return scored.join(F.broadcast(hosts), "host").select(
        "doc_id",
        "host",
        "doc_quality",
        "host_prior",
        "host_docs",
        combined.alias("combined"),
        (combined > threshold).alias("keep"),
    )


def frontier_schedule(
    frontier: DataFrame,
    host_col: str = "host",
    priority_col: str = "priority",
    delay_col: str = "crawl_delay",
) -> DataFrame:
    """Politeness-aware crawl scheduling: per-host FIFO fetch slots.

    A web crawler must serialize fetches within a host (robots
    crawl-delay) while staying fully parallel across hosts. Given a
    frontier of (url key, host, priority, per-host crawl delay), each
    host's URLs are ranked by (priority DESC, doc_id) and assigned
    sequential slots; ``fetch_at = slot * crawl_delay`` is the
    earliest politeness-legal fetch offset, so the scheduler output
    maps directly onto per-host worker queues.

    Scale shape: one hash shuffle on host; the per-host window sort is
    the schedule itself (any politeness-correct scheduler must order
    within host). Host skew is real (a 10^8-page host) but benign
    here: the window carries four scalar columns, and a single host's
    run is a sequential queue at fetch time anyway — the schedule for
    it is consumed incrementally, not materialized hot.
    """
    w = Window.partitionBy(host_col).orderBy(
        F.col(priority_col).desc(), F.col("doc_id")
    )
    slot = (F.row_number().over(w) - 1).cast("long")
    return frontier.select(
        "doc_id",
        F.col(host_col).alias("host"),
        F.col(priority_col).alias("priority"),
        slot.alias("slot"),
        (slot * F.col(delay_col)).cast("long").alias("fetch_at"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str = "url", cmp_col: str = "content_hash"
) -> DataFrame:
    """Crawl-delta classification between two snapshot tables.

    Recrawl pipelines need the delta, not the crawl: which URLs
    appeared, vanished, or changed content since the last snapshot.
    Full-outer join on the URL key comparing content digests:

      added      — in new only          removed — in old only
      changed    — digests differ       unchanged — digests equal

    Scale shape: one co-partitioned sort-merge join on the key;
    NOTHING broadcasts (both snapshots are corpus-sized) and only
    (key, digest) pairs shuffle — with both snapshots bucketed on the
    key (the snapshot table's natural clustering) the exchange is
    avoided entirely. Downstream consumers filter to
    status != 'unchanged', which prunes ~all of a typical recrawl.
    """
    o = old.select(F.col(key).alias("url"), F.col(cmp_col).alias("_oh"))
    n = new.select(F.col(key).alias("url"), F.col(cmp_col).alias("_nh"))
    j = o.join(n, "url", "full_outer")
    return j.select(
        "url",
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def hits(docs: DataFrame, n_docs: int, iterations: int = 3) -> DataFrame:
    """HITS hubs & authorities over the deterministic link graph:
    ``iterations`` mutual-reinforcement steps from the uniform vector
    (auth ← Σ hub over in-edges, hub ← Σ auth over out-edges), each
    vector max-normalized per step. PageRank scores WHERE links land;
    HITS separates pages that POINT WELL (hubs — link directories,
    index pages) from pages POINTED AT well (authorities) — crawl
    schedulers seed from hubs, quality priors weight authorities.

    Scale shape: same iterated shuffle as ``pagerank`` — score vector
    joins the edge list on one endpoint key, re-aggregates on the
    other; neither side broadcasts (both are corpus-sized at 10^12
    docs), the edge list is persisted once and reused by all 2×k
    joins. Normalization uses MAX, not an L2 sum: max is
    order-independent under floating point, so the oracle's
    serial reduction and Spark's partial-agg tree agree exactly; the
    one-row max result is the only broadcast (a scalar).

    Lineage control: unlike PageRank's linear chain, each HITS vector
    is consumed TWICE per step (its own max + the opposite update), so
    an unchecked plan doubles the recomputed subtree per reuse —
    2^(2k) blowup (measured 19.7 s vs ~3 s at sf0.01). Each raw vector
    therefore goes through ``materialize`` and the SAME job that
    materializes it reduces the max, which rides back out as a literal
    — the k-means loop's bounded-lineage/driver-scalar discipline; at
    cluster scale these are corpus-sized checkpoints, the standard
    cost of iterated graph algorithms.
    """
    nodes = docs.select("doc_id")
    edges = materialize(synth_edges(docs, n_docs))
    hub = nodes.select("doc_id", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(iterations):
        a_raw = (
            edges.join(
                hub.select(F.col("doc_id").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("hub").alias("a"))
        )
        a = materialize(
            nodes.join(a_raw, "doc_id", "left")
            .select("doc_id", F.coalesce(F.col("a"), F.lit(0.0)).alias("a"))
        )
        # ONE job materializes the lazy checkpoint AND reduces the max;
        # the scalar rides to the executors as a literal (the k-means
        # loop's centroid pattern — driver state is one double)
        amax = a.agg(F.max("a")).collect()[0][0]
        auth = a.select("doc_id", (F.col("a") / F.lit(amax)).alias("auth"))
        h_raw = (
            edges.join(
                auth.select(F.col("doc_id").alias("dst"), "auth"), "dst"
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.sum("auth").alias("h"))
        )
        h = materialize(
            nodes.join(h_raw, "doc_id", "left")
            .select("doc_id", F.coalesce(F.col("h"), F.lit(0.0)).alias("h"))
        )
        hmax = h.agg(F.max("h")).collect()[0][0]
        hub = h.select("doc_id", (F.col("h") / F.lit(hmax)).alias("hub"))
    return auth.join(hub, "doc_id").select(
        "doc_id",
        F.round("auth", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def triangle_stats(docs: DataFrame, n_docs: int) -> DataFrame:
    """Triangle count and global clustering coefficient of the
    (undirected) link graph — the LDBC-style graph-analytics staple
    behind community/spam detection on web graphs.

    Algorithm: degree-ordered edge orientation. Each undirected edge
    points from the lower (degree, id) endpoint to the higher, making
    the graph acyclic with max out-degree O(√m); every triangle then
    appears EXACTLY once as a wedge a→b, a→c (b before c in the
    ordering) closed by b→c, so the count is two self-joins — the
    standard distributed formulation that bounds the wedge explosion a
    naive all-pairs-of-neighbors join suffers on hub nodes. Wedges
    (Σ deg·(deg−1)/2) come from the degree table alone.

    Everything is integer arithmetic until the final coefficient —
    no float-parity discipline needed. Scale shape: two shuffles on
    edge endpoints for the joins, one degree agg; nothing broadcasts
    (the edge list is corpus-sized); skew from hub pages is exactly
    what the degree orientation neutralizes.
    """
    e = synth_edges(docs, n_docs)
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    # orient: lower (deg, id) -> higher (deg, id)
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    lab = und.join(da, "a").join(db, "b")
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = lab.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("w").alias("z"))
    e3 = oriented.select(F.col("u").alias("x"), F.col("w").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).count()
    stats = (
        deg.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(
                (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
            ).cast("long").alias("n_wedges"),
        )
        .crossJoin(
            und.agg(F.count("*").cast("long").alias("n_edges"))
        )
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.lit(tri).cast("long").alias("n_triangles"),
        F.round(F.lit(3.0 * tri) / F.col("n_wedges"), 6).alias(
            "global_clustering"
        ),
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Connected components of the undirected link graph via
    large-star / small-star alternation — the O(log n)-round
    formulation (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) that web-scale dedup stacks use to close
    duplicate-pair graphs when plain min-label propagation's
    O(component diameter) rounds would be the bottleneck (a chain of
    pairwise near-dups has diameter ~ component size).

    * **large-star**: every node's strictly-larger neighbors re-attach
      to the minimum of its closed neighborhood.
    * **small-star**: on the resulting larger→smaller edges, each
      node and its smaller neighbors all re-attach to the smallest.

    Both steps preserve connectivity and strictly converge to a star
    forest rooted at each component's minimum id; the loop stops when
    the edge set fixpoints.

    Scale shape: each half-step is one hash shuffle (groupBy the pivot
    endpoint) + a distinct; nothing broadcasts (the edge list is
    corpus-sized at 10^12 docs). Per-round driver state is ONE
    fingerprint row — (edge count, XOR of xxhash64(u, v)) — reduced by
    the same job that fills the round's ``materialize`` (the
    HITS/k-means bounded-lineage discipline; recoverable checkpoints
    on a fault-tolerant cluster are a change to that one helper).
    Fixpoint is detected by fingerprint equality: the star forest is a
    true fixpoint of both steps, so the fingerprint stabilizes exactly
    when the edge set does.

    Takes an explicit ``edges (src, dst)`` frame — the general closure
    primitive: the link graph here, a near-dup pair list in the dedup
    end-step (``dedup.duplicate_clusters`` above its driver cap).
    Returns every node of ``nodes (doc_id)`` labeled with its
    component's minimum id (isolated nodes label themselves). Raises
    ``RuntimeError`` when the edge set has not reached its fixpoint
    within ``max_iterations`` rounds: the labeling would be wrong.
    """
    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_fp = None
    for _ in range(max_iterations):
        # large-star over the full (symmetric) neighborhood of x
        nbrs = e.select(
            F.col("u").alias("x"), F.col("v").alias("y")
        ).unionByName(e.select(F.col("v").alias("x"), F.col("u").alias("y")))
        mins = nbrs.groupBy("x").agg(
            F.least(F.min("y"), F.first("x")).alias("m")
        )
        large = (
            nbrs.filter(F.col("y") > F.col("x"))
            .join(mins, "x")
            .filter(F.col("y") != F.col("m"))
            .select(F.col("y").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: canonical u>v edges — every neighbor of u is
        # smaller, so min(closed neighborhood) = min(v); u re-attaches
        # too (u > m always, no self-loop possible)
        mn = large.groupBy("u").agg(F.min("v").alias("m"))
        e = materialize(
            large.join(mn, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(
                mn.select(F.col("u").alias("u"), F.col("m").alias("v"))
            )
            .distinct()
        )
        # overflow-free set fingerprint: count + XOR of 64-bit row
        # hashes (sum() trips ANSI-mode ARITHMETIC_OVERFLOW at scale)
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        fp = (row["n"], row["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iterations="
            f"{max_iterations} rounds"
        )
    parents = e.groupBy(F.col("u").alias("doc_id")).agg(
        F.min("v").alias("component")
    )
    return nodes.select("doc_id").join(parents, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )


def label_propagation(
    docs: DataFrame, n_docs: int, iterations: int = 3
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007) over the undirected link graph: every node
    starts as its own label; each step it adopts the most frequent
    label among its neighbors, ties broken toward the SMALLEST label
    (the deterministic variant — the classic random tiebreak is
    designed out, same discipline as the reading-order sorts).
    Fixed ``iterations`` steps (k=3), the standard bounded-round usage
    for spam-farm / mirror-cluster discovery on web graphs.

    Scale shape per step: one shuffle to join labels onto edge
    destinations, one map-side-combinable count per (node, candidate
    label), one min-struct agg to pick (max count, min label) — the
    (-count, label) struct-min trick keeps the argmax inside a single
    partial-aggregable expression, no window over the corpus. Labels
    chain linearly (each vector consumed once), so no checkpoints are
    needed at k=3; nothing broadcasts.
    """
    edges = synth_edges(docs, n_docs)
    und = materialize(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("community"))
    for _ in range(iterations):
        cnts = (
            und.join(
                labels.select(
                    F.col("doc_id").alias("b"), F.col("community").alias("l")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("doc_id"), "l")
            .agg(F.count("*").alias("c"))
        )
        pick = (
            cnts.groupBy("doc_id")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("l").alias("l"))
                ).alias("p")
            )
            .select("doc_id", F.col("p.l").alias("new_l"))
        )
        labels = labels.join(pick, "doc_id", "left").select(
            "doc_id", F.coalesce("new_l", F.col("community")).alias("community")
        )
    return labels


def kcore_membership(
    docs: DataFrame, n_docs: int, k: int = 3, max_rounds: int = 30
) -> DataFrame:
    """k-core membership of the undirected link graph: iteratively
    peel nodes of degree < k until every survivor has ≥ k surviving
    neighbors. The k-core is the classic "dense backbone" filter —
    link-spam and isolated-page pruning before graph-signal quality
    priors (pages outside any 3-core get no PageRank-derived boost).

    Peeling is the textbook iterated shuffle: degree agg → survivor
    filter → semi-join the edge list on BOTH endpoints. The edge set
    shrinks monotonically, so fixpoint detection is an exact edge
    COUNT comparison (equal count ⇒ identical set — nothing is ever
    added), one scalar per round reduced by the job that fills the
    round's ``materialize``. Converges in at most
    max-coreness·diameter rounds; real web graphs take a handful.

    Returns every document with its final membership flag and its
    degree inside the core (0 outside).
    """
    edges = synth_edges(docs, n_docs)
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
    )
    prev_n = None
    for _ in range(max_rounds):
        deg = e.groupBy("a").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        e = materialize(
            e.join(keep, "a")
            .join(keep.select(F.col("a").alias("b")), "b")
            .select("a", "b")
        )
        n = e.count()
        if n == prev_n:
            break
        prev_n = n
    core_deg = e.groupBy(F.col("a").alias("doc_id")).agg(
        F.count("*").cast("int").alias("core_degree")
    )
    return docs.select("doc_id").join(core_deg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("core_degree", F.lit(0)).alias("core_degree"),
        (F.coalesce("core_degree", F.lit(0)) >= k).alias("in_core"),
    )


def trustrank(
    docs: DataFrame,
    n_docs: int,
    iterations: int = 3,
    damping: float = DAMPING,
    seed_mod: int = 50,
) -> DataFrame:
    """TrustRank (Gyöngyi et al., VLDB'04): PageRank personalized to a
    trusted seed set — the web-spam demotion stage of URL-level corpus
    curation. Teleportation mass goes ONLY to seeds (here the
    deterministic "manually vetted" set ``doc_id % seed_mod == 0``),
    so trust decays with link distance from the seeds instead of being
    re-injected uniformly; pages unreachable from any seed converge to
    exactly zero.

    Same iterated-shuffle shape as :func:`pagerank` — rank joins the
    persisted weighted edge list on ``src``, re-aggregates on ``dst``,
    nothing broadcasts (the rank vector is corpus-sized at 10^12
    docs) — only the teleport term differs: a per-row CASE on the seed
    predicate, zero extra shuffles. The seed-set cardinality is pure
    arithmetic on the contiguous id space (at scale: a count pushed to
    the seed table's metadata), never a collected list.
    """
    nodes = docs.select("doc_id")
    is_seed = F.col("doc_id") % seed_mod == 0
    n_seeds = (n_docs + seed_mod - 1) // seed_mod
    edges = synth_edges(docs, n_docs)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    weighted = materialize(edges.join(outdeg, "src"))

    teleport = F.when(is_seed, F.lit((1.0 - damping) / n_seeds)).otherwise(
        F.lit(0.0)
    )
    ranks = nodes.select(
        "doc_id",
        F.when(is_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias(
            "trust"
        ),
    )
    for _ in range(iterations):
        contrib = (
            weighted.join(
                ranks.select(F.col("doc_id").alias("src"), "trust"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.col("trust") / F.col("deg")).alias("inflow"))
        )
        ranks = nodes.join(contrib, "doc_id", "left").select(
            "doc_id",
            (
                teleport
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("trust"),
        )
    return ranks.select(
        "doc_id",
        F.round("trust", 9).alias("trust"),
        (F.round("trust", 9) > 0.0).alias("reachable"),
    )


def bfs_depth(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 16,
) -> DataFrame:
    """Minimum hop distance from a seed set over the undirected link
    graph — crawl-depth analysis (how far does the frontier sit from
    the vetted seeds?) and the distance feature TrustRank-style
    curation thresholds on. Frontier-parallel BFS: each round joins
    ONLY the just-settled frontier to the edge list and settles its
    unvisited neighbors; settled nodes never re-enter the join, so
    total work is O(edges touched), not O(rounds × edges).

    Per round: one hash shuffle (frontier ⋈ edges) + a distinct + a
    left join back onto the distance vector; the round's
    ``materialize`` bounds lineage and its materializing job also
    reduces the ONE driver scalar (settled count) that detects the
    fixpoint — monotone growth makes an exact count comparison a true
    set-equality test. ``max_hops`` caps the rounds; beyond-cap nodes
    report depth −1 (unreachable), mirrored by the oracle's hop-bound
    closure.
    """
    und = materialize(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
    )
    dist = nodes.select("doc_id").join(
        seeds.select("doc_id", F.lit(0).alias("depth")), "doc_id", "left"
    )
    prev_settled = None
    for r in range(1, max_hops + 1):
        frontier = dist.filter(F.col("depth") == r - 1).select(
            F.col("doc_id").alias("a")
        )
        reached = (
            und.join(frontier, "a")
            .select(F.col("b").alias("doc_id"))
            .distinct()
            .select("doc_id", F.lit(r).alias("nd"))
        )
        dist = materialize(
            dist.join(reached, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("depth", "nd").alias("depth")
            )
        )
        settled = dist.agg(F.count("depth")).collect()[0][0]
        if settled == prev_settled:
            break
        prev_settled = settled
    return dist.select(
        "doc_id",
        F.coalesce(F.col("depth"), F.lit(-1)).cast("long").alias("depth"),
        F.col("depth").isNotNull().alias("reachable"),
    )


def host_graph(docs: DataFrame, n_docs: int) -> DataFrame:
    """Host-graph condensation: collapse the document-level link graph
    to (src_host, dst_host) with link counts — the standard first
    reduction of a web graph (10^12 pages → ~10^7 hosts) before
    host-level spam/quality analysis, and the granularity at which
    link-farm detection and host reputation actually run.

    Scale shape: the SOURCE host is derived in the source row (the
    edge synthesis and the host live in the same row — no join at
    all), so the only corpus-sized operation is one equi-join carrying
    the destination's host onto the edge list, followed by a map-side-
    combinable aggregate to the host×host table (tiny). At real scale
    the destination host is a projection of the target URL itself, so
    even that join disappears; the synthetic graph links by doc_id, so
    the join is kept honest here.
    """
    host = F.concat(F.col("source"), F.lit(".example.com"))
    deg = (F.col("doc_id") % 3 + 2).cast("int")
    exploded = docs.select(
        F.col("doc_id").alias("src"),
        host.alias("src_host"),
        F.explode(F.sequence(F.lit(0), deg - 1)).alias("j"),
    )
    edges = exploded.select(
        "src",
        "src_host",
        ((F.col("src") * 7 + F.col("j") * 13 + 1) % n_docs).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    dst_hosts = docs.select(
        F.col("doc_id").alias("dst"), host.alias("dst_host")
    )
    return (
        edges.join(dst_hosts, "dst")
        .groupBy("src_host", "dst_host")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("src").alias("n_src_docs"),
        )
        .select(
            "src_host",
            "dst_host",
            "n_links",
            "n_src_docs",
            (F.col("src_host") == F.col("dst_host")).alias("intra_host"),
        )
    )


def random_walks(docs: DataFrame, n_docs: int, steps: int = 3) -> DataFrame:
    """One deterministic ``steps``-hop walk per node over the dense
    synthetic graph — the DeepWalk/node2vec corpus generator
    (Perozzi et al. 2014): walks become "sentences" a skip-gram model
    trains on. Next-hop choice is pseudo-random but STATELESS: among
    the current node's out-edges, take the dst minimizing the portable
    LCG hash((cur·69069 + dst) mod P · 48271 + step·12345) mod P — the
    A-ES trick applied to neighbor selection, so the same corpus
    produces the same walks at any partitioning or cluster size, and
    the oracle replicates them exactly in SQL (arg_min over the same
    arithmetic; every product stays < 2^48, no overflow).

    Scale shape: each hop is ONE equi-join frontier↔edges on the
    current node plus a struct-min aggregation per walker — argmin
    inside a partial-aggregable expression, no windows; ``steps`` is a
    small constant so the walk unrolls into a fixed chain of hash
    joins (walkers and edges both hash-partition on the join key; a
    hub node's fan-in is bounded by the aggregation's map-side
    combine). Output: (start_id, walk string, end node).
    """
    edges = synth_edges(docs, n_docs)
    frontier = docs.select(
        F.col("doc_id").alias("start"),
        F.col("doc_id").alias("cur"),
        F.col("doc_id").cast("string").alias("walk"),
    )
    for step in range(1, steps + 1):
        key = F.pmod(
            F.pmod(F.col("cur") * 69069 + F.col("dst"), F.lit(2_147_483_647))
            * 48271
            + step * 12345,
            F.lit(2_147_483_647),
        )
        # composite (key << 32) | dst: ties on the hash resolve to the
        # smallest dst INSIDE one integer min — bit-identical argmin in
        # any engine (key < 2^31, so the product stays inside int64)
        ckey = key * F.lit(4_294_967_296) + F.col("dst")
        hop = (
            frontier.join(edges, frontier["cur"] == edges["src"], "left")
            .groupBy("start")
            .agg(
                F.min(ckey).alias("mk"),
                F.min("cur").alias("pcur"),   # one frontier row per start
                F.min("walk").alias("pwalk"),
            )
            .select(
                "start",
                # dead-end nodes (no out-edges) keep their position
                F.coalesce(
                    F.pmod(F.col("mk"), F.lit(4_294_967_296)), F.col("pcur")
                ).alias("cur"),
                F.when(F.col("mk").isNull(), F.col("pwalk"))
                .otherwise(
                    F.concat(
                        F.col("pwalk"),
                        F.lit("->"),
                        F.pmod(F.col("mk"), F.lit(4_294_967_296)).cast(
                            "string"
                        ),
                    )
                )
                .alias("walk"),
            )
        )
        frontier = hop
    return frontier.select(
        "start", "walk", F.col("cur").cast("long").alias("end_node")
    )
