"""Host-level web link graph over Common-Crawl-style pages.

The input table (BASELINE.json ``input_hint``) is web pages with raw
``html`` — at Common-Crawl scale the hyperlink structure is itself a
first-class KG signal: host-level edges drive crawl prioritisation,
spam/host-quality scoring, and the canonical importance prior
(PageRank over the host graph) that a curation pipeline joins onto
per-document quality scores. The reference app has no crawl surface
(it analyzes one pasted document, /root/reference/src/routers/views.py);
this module is part of the beyond-reference web-scale layer, like
operators/graphalgo.py.

Everything here is pure codegen expression work over the page scan —
``regexp_extract_all`` for anchor hrefs, ``regexp_extract`` for hosts,
one partial-agg shuffle for the edge weights. No UDF, no Python row
path: at 10^12 pages the link extraction is a map-local pass fused into
whatever else reads the scan (WholeStageCodegen), and the only exchange
is the (src, dst) aggregation whose key space is hosts^2 (tiny relative
to pages — ~10^8 edges for 10^6 hosts), so the agg is partial-map-side
and the shuffled volume is the *edge* table, not the page table.

Both regexes are backslash- and single-quote-free so the DuckDB oracle
replays them verbatim (oracles._HOST_EDGE_CTES; same portability rule
as operators/pii.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: absolute http(s) anchor targets; relative links (nav boilerplate) are
#: intentionally out of scope for the HOST graph
HREF_RE = '<a href="(https?://[^"]+)"'
HOST_RE = "https?://([^/]+)"


def page_links(pages: DataFrame) -> DataFrame:
    """(src_url, href): one row per absolute hyperlink on each page.

    The html column decodes as UTF-8 (cast binary->string); non-HTML
    payloads (the text/plain lane) simply match no anchors and drop out
    at the explode — no branch needed.
    """
    return pages.select(
        F.col("url").alias("src_url"),
        F.explode(
            F.expr(
                f"regexp_extract_all(cast(html as string), '{HREF_RE}', 1)"
            )
        ).alias("href"),
    )


def host_edges(pages: DataFrame, honor_nofollow: bool = False) -> DataFrame:
    """(src, dst, n_links): the weighted host-level link graph.

    Self-host edges are dropped (intra-site navigation is not an
    endorsement signal); multi-links between the same host pair keep
    their multiplicity in ``n_links``. With ``honor_nofollow``, pages
    carrying a ``nofollow`` robots meta contribute no edges (the
    compliance semantics; a map-local predicate on the same scan) —
    default off so the pinned registry/oracle rows measure the raw
    graph.
    """
    if honor_nofollow:
        content = F.regexp_extract(F.col("html").cast("string"), ROBOTS_RE, 1)
        pages = pages.filter(~F.contains(content, F.lit("nofollow")))
    links = page_links(pages)
    return (
        links.select(
            F.regexp_extract("src_url", HOST_RE, 1).alias("src"),
            F.regexp_extract("href", HOST_RE, 1).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_links"))
    )


#: full anchor element with visible text — both groups re-extracted from
#: the matched tag (group 0), so one extract_all pass feeds href AND text
ANCHOR_RE = '<a href="(https?://[^"]+)">([^<]+)</a>'


def anchor_texts(pages: DataFrame) -> DataFrame:
    """(src_host, dst_host, alias): one row per absolute hyperlink with
    its visible anchor text, lowercased/trimmed. Cross-host only — same
    self-host rule as host_edges (intra-site anchors are navigation
    boilerplate, not naming evidence).

    Anchor text is the classic alias signal for entity linking (the
    web names its link targets): aggregated per target it becomes the
    candidate alias dictionary the linking stage broadcast-joins
    (operators/linking.py). Pure codegen: extract_all of the full tag,
    then per-group regexp_extract — no UDF, map-local until the
    consumer's aggregation."""
    tags = pages.select(
        F.regexp_extract("url", HOST_RE, 1).alias("src_host"),
        F.explode(
            F.expr(
                f"regexp_extract_all(cast(html as string), '{ANCHOR_RE}', 0)"
            )
        ).alias("tag"),
    )
    return (
        tags.select(
            "src_host",
            F.regexp_extract("tag", ANCHOR_RE, 1).alias("href"),
            F.lower(F.trim(F.regexp_extract("tag", ANCHOR_RE, 2))).alias("alias"),
        )
        .withColumn("dst_host", F.regexp_extract("href", HOST_RE, 1))
        .filter((F.col("alias") != "") & (F.col("src_host") != F.col("dst_host")))
        .select("src_host", "dst_host", "alias")
    )


def anchor_aliases(pages: DataFrame, n_salts: int = 16) -> DataFrame:
    """(dst_host, alias, n_mentions, n_src_hosts): anchor-text alias
    mining — how the web names each link target, with how many distinct
    linker hosts agreeing (the dedup'd endorsement count that separates
    a genuine alias from one spammy site's boilerplate).

    The aggregation key is head-skewed by construction (hub hosts
    collect a large share of all in-links — the host-level analogue of
    popular entities), so n_src_hosts goes through the two-phase salted
    distinct (operators/skew.py) with the plain mention count carried in
    the same salted shuffle: a hot (dst_host, alias) key's state is
    spread over n_salts reducer tasks and only the tiny per-bucket
    partials meet at the full key."""
    from .skew import salted_distinct_count

    return salted_distinct_count(
        anchor_texts(pages),
        ["dst_host", "alias"],
        "src_host",
        n_salts=n_salts,
        out="n_src_hosts",
        count_out="n_mentions",
    ).select(
        "dst_host",
        "alias",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        F.col("n_src_hosts").cast("long").alias("n_src_hosts"),
    )


#: web-minted entity ids live above this offset, disjoint from the
#: curated dictionary's small ids (sources/pages.alias_dict_df)
WEB_ENTITY_ID_BASE = 10**15


def anchor_alias_dim(pages: DataFrame, min_src_hosts: int = 2) -> DataFrame:
    """(alias, entity_id, canonical_name): the web-mined alias dictionary
    — anchor aliases endorsed by >= ``min_src_hosts`` distinct linker
    hosts, shaped exactly like the curated dim (alias_dict_df) so the
    linking stage unions the two (plans/pipeline.py ``web_aliases=True``).
    An alias naming several targets keeps a row per target: candidate
    generation handles ambiguous aliases and link scoring tie-breaks.

    entity_id mints portably from md5(canonical host): 48-bit hex prefix
    as an integer, offset by WEB_ENTITY_ID_BASE so web ids can never
    collide with the curated dictionary's (the DuckDB oracle replays the
    same digits; same md5-portability rule as linking's band keys).

    The endorsement gate is also the scale bound: at 10^12 pages the raw
    (alias, host) space is huge, but the dim the linker broadcasts is
    the gated one — raise ``min_src_hosts`` (real anchor dictionaries
    prune exactly this way) to keep it broadcast-sized; the linker
    collects it into one driver-side index (linking.link_mentions), so
    that index is the bound a larger dim would hit."""
    return (
        anchor_aliases(pages)
        .filter(F.col("n_src_hosts") >= int(min_src_hosts))
        .select(
            "alias",
            (
                F.conv(F.substring(F.md5(F.col("dst_host")), 1, 12), 16, 10)
                .cast("long")
                + F.lit(WEB_ENTITY_ID_BASE)
            ).alias("entity_id"),
            F.col("dst_host").alias("canonical_name"),
        )
    )


def host_pagerank(pages: DataFrame, iters: int = 6, **kw) -> DataFrame:
    """(host, rank_scaled, rank): directed integer fixed-point PageRank
    over the host link graph — the crawl-importance prior. Direction is
    kept (rank flows linker -> linked); see graphalgo.pagerank
    ``directed=True`` for the pinned dangling-mass semantics."""
    from . import graphalgo

    ranks = graphalgo.pagerank(
        host_edges(pages).select("src", "dst"),
        iters=iters,
        directed=True,
        **kw,
    )
    return ranks.withColumnRenamed("entity", "host")


#: robots meta directive — same double-quoted-attribute shape as HREF_RE,
#: backslash/single-quote-free so the DuckDB oracle replays it verbatim
ROBOTS_RE = '<meta name="robots" content="([^"]*)"'


def robots_directives(pages: DataFrame) -> DataFrame:
    """(url, noindex, nofollow): per-page robots meta directives — the
    crawl-compliance gate. Common-Crawl-style processing honors page
    opt-outs: ``noindex`` pages must not enter the corpus, ``nofollow``
    pages contribute no link-graph edges. Pages without the meta (and
    text/plain payloads, which match nothing) default to
    indexable/followable — the crawl convention.

    Pure codegen: one regexp_extract over the page scan fused into
    whatever else reads it, plus two substring tests; no shuffle at all.
    At 10^12 pages this is a free rider on the extraction scan."""
    content = F.regexp_extract(F.col("html").cast("string"), ROBOTS_RE, 1)
    return pages.select(
        "url",
        F.contains(content, F.lit("noindex")).alias("noindex"),
        F.contains(content, F.lit("nofollow")).alias("nofollow"),
    )


def indexable_pages(pages: DataFrame) -> DataFrame:
    """Pages minus the ``noindex`` opt-outs — the compliance filter a
    curation pipeline applies before extraction (map-local predicate on
    the scan; no join, no shuffle)."""
    content = F.regexp_extract(F.col("html").cast("string"), ROBOTS_RE, 1)
    return pages.filter(~F.contains(content, F.lit("noindex")))


def host_quality(pages: DataFrame, low_quality: float = 0.5) -> DataFrame:
    """(host, n_pages, plain_pages, n_tokens, n_chars,
    mean_quality_micros, low_quality_pages): the domain-level curation
    rollup — per-host aggregates of the per-page quality signals that
    web-scale pipelines (C4 / Gopher / RefinedWeb-style) block-list and
    sample domains on. The reference has no crawl surface; this is the
    beyond-reference curation layer's host dimension, the table a
    curation gate joins (with host_pagerank as the importance prior) to
    decide which domains to keep, downsample, or drop wholesale.

    Signals per host: page count, text/plain-lane count (content-type
    mix), total tokens/chars (volume), ``mean_quality_micros`` (the mean
    of textquality's pinned quality formula, fixed-point at 1e-6 —
    integer math end-to-end so the row hash-verifies exactly), and the
    count of pages under the ``low_quality`` threshold.

    The token meter here is WEB_TOKEN_SQL_RE (Cyrillic-inclusive) with
    the en∪ru stop list — the documents-table default (Latin-only
    TOKEN_SQL_RE) would meter the ru-dominant page corpus as ~0 tokens
    and grade every Russian host "low quality". The composite formula
    itself is textquality.quality_expr, the same pinned expression
    quality_score compiles.

    Scale shape: the per-page signals are map-side-combinable per-doc
    partial aggs keyed by doc_id (the stopword count is explode + agg —
    no interpreted HOF; at 10^12 pages the shuffled volume is per-doc
    signal rows, never text). The host rollup re-keys those O(pages)
    signal rows to O(hosts) — hosts are ~10^8 at crawl scale, so the
    final exchange is tiny and the host join for plain_pages is a
    host-keyed join of two host-sized aggregates. quality is
    ROUND(·, 6), so round(quality * 1e6) is an exact integer in both
    engines and the threshold compare is deterministic."""
    from .extract import extracted_text
    from .textquality import WEB_STOPWORDS, WEB_TOKEN_SQL_RE, quality_expr

    docs = extracted_text(pages).select(
        F.col("url").alias("doc_id"), F.col("extracted").alias("text")
    )
    arr = f"regexp_extract_all(lower(text), '{WEB_TOKEN_SQL_RE}', 0)"
    stop_list = ", ".join(f"'{s}'" for s in WEB_STOPWORDS)
    base = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.expr(arr)).cast("long").alias("n_tokens"),
        F.length(F.expr("regexp_replace(text, '[^.,;:!?]', '')"))
        .cast("long")
        .alias("n_punct"),
    )
    stops = (
        docs.select("doc_id", F.explode(F.expr(arr)).alias("token"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(f"CASE WHEN token IN ({stop_list}) THEN 1 ELSE 0 END")
            ).alias("n_stop")
        )
    )
    per_doc = (
        base.join(stops, "doc_id", "left")
        .fillna(0, ["n_stop"])
        .select(
            "doc_id",
            "n_tokens",
            "n_chars",
            quality_expr(
                F.col("n_tokens"),
                F.col("n_chars"),
                F.col("n_punct"),
                F.col("n_stop"),
            ).alias("quality"),
        )
    )
    per_host = (
        per_doc.withColumn("host", F.regexp_extract("doc_id", HOST_RE, 1))
        .groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.expr(
                "sum(cast(round(quality * 1000000) as bigint)) div count(*)"
            ).alias("mean_quality_micros"),
            F.sum(
                (F.col("quality") < F.lit(float(low_quality))).cast("long")
            ).alias("low_quality_pages"),
        )
    )
    plains = (
        pages.select(
            F.regexp_extract("url", HOST_RE, 1).alias("host"),
            (~F.expr("startswith(cast(html as string), '<html')"))
            .cast("long")
            .alias("p"),
        )
        .groupBy("host")
        .agg(F.sum("p").alias("plain_pages"))
    )
    return per_host.join(plains, "host").select(
        "host",
        "n_pages",
        "plain_pages",
        "n_tokens",
        "n_chars",
        "mean_quality_micros",
        "low_quality_pages",
    )


def domain_table(
    pages: DataFrame, iters: int = 6, low_quality: float = 0.5
) -> DataFrame:
    """The domain decision table: ``host_quality`` LEFT-joined with the
    ``host_pagerank`` importance prior on host — quality × importance
    per domain, the single frame a crawl-curation gate ranks, samples,
    and block-lists domains from (high-rank low-quality hosts are the
    classic spam signature; low-rank high-quality hosts are the
    long-tail worth keeping).

    A corpus host with no cross-host links carries ``rank_scaled`` 0:
    it earned no importance prior (COALESCE, exact integers — the row
    stays hash-verifiable). Both inputs aggregate to O(hosts) rows
    before the join, so the join itself is host-sized regardless of
    corpus scale."""
    ranks = host_pagerank(pages, iters=iters).select("host", "rank_scaled")
    return (
        host_quality(pages, low_quality=low_quality)
        .join(ranks, "host", "left")
        .select(
            "host",
            "n_pages",
            "plain_pages",
            "n_tokens",
            "n_chars",
            "mean_quality_micros",
            "low_quality_pages",
            F.coalesce(F.col("rank_scaled"), F.lit(0))
            .cast("long")
            .alias("rank_scaled"),
        )
    )


def crawl_frontier(
    pages: DataFrame, iters: int = 6, prior: DataFrame | None = None
) -> DataFrame:
    """(url_canon, host, n_ref_pages, n_ref_hosts, priority_scaled):
    the crawl frontier — every canonicalized outlink target NOT already
    in the crawled set, with its referrer evidence and an integer fetch
    priority. This is the scheduling table a 10^12-page crawl loop
    feeds back to its fetchers: what to fetch next, and in what order.

    Shape, stage by stage (all decisions are the 100-TB ones):

    * hrefs come off the page scan map-local (``page_links``), and each
      target is canonicalized in the same codegen projection
      (urlnorm.canonical_url) — frontier keys MUST be canonical or the
      crawl re-fetches every spelling of every url.
    * "already crawled" is a LEFT ANTI join against the canonicalized
      crawled-url set: null-safe, set-semantics, and Spark builds the
      hash table on the (smaller) crawled side per partition after both
      sides exchange on url_canon — the exchange the groupBy below
      needs anyway, so AQE reuses it rather than adding one.
    * referrer evidence aggregates per target: total referring links
      and DISTINCT referring hosts via the same two-phase salted
      distinct the anchor miner uses (operators/skew.py) — frontier
      targets are exactly as skewed as web in-links (a hub homepage
      collects millions of referrers; salting spreads its distinct-set
      build over n_salts reducers, exact by construction).
    * the priority prior is the directed host PageRank of the TARGET
      host, an O(hosts) frame broadcast onto the O(frontier) aggregate;
      ``priority_scaled = n_ref_hosts * rank_scaled + n_ref_pages`` in
      exact long arithmetic (hash-verifiable; rank 0 for hosts the
      crawled graph has never endorsed — COALESCE, never null).

    ``prior`` short-circuits the PageRank recompute with an existing
    (host, rank_scaled) frame — jobs/run_webgraph.py passes its already-
    MATERIALIZED ranks table so the frontier write never re-runs the
    Pregel loop (at scale the prior is a table you refresh on its own
    cadence, not something every frontier batch recomputes).

    The reference app has no crawl loop (single pasted document,
    /root/reference/src/routers/views.py); this is beyond-reference
    web-scale infrastructure like the rest of this module.
    """
    from .skew import salted_distinct_count
    from .urlnorm import canonical_url

    links = page_links(pages).select(
        F.regexp_extract("src_url", HOST_RE, 1).alias("src_host"),
        canonical_url(F.col("href")).alias("url_canon"),
    )
    crawled = pages.select(canonical_url(F.col("url")).alias("url_canon"))
    frontier = links.join(crawled, "url_canon", "left_anti")
    agg = salted_distinct_count(
        frontier,
        ["url_canon"],
        "src_host",
        out="n_ref_hosts",
        count_out="n_ref_pages",
    )
    if prior is None:
        prior = host_pagerank(pages, iters=iters)
    prior = prior.select("host", "rank_scaled")
    return (
        agg.withColumn("host", F.regexp_extract("url_canon", HOST_RE, 1))
        .join(F.broadcast(prior), "host", "left")
        .select(
            "url_canon",
            "host",
            F.col("n_ref_pages").cast("long").alias("n_ref_pages"),
            F.col("n_ref_hosts").cast("long").alias("n_ref_hosts"),
            (
                F.col("n_ref_hosts").cast("long")
                * F.coalesce(F.col("rank_scaled"), F.lit(0)).cast("long")
                + F.col("n_ref_pages").cast("long")
            ).alias("priority_scaled"),
        )
    )



def frontier_waves(frontier: DataFrame, per_wave: int = 1) -> DataFrame:
    """(url_canon, host, priority_scaled, wave): politeness scheduling
    over the frontier — rank targets within each host by fetch priority
    and assign waves of ``per_wave`` urls per host. Wave w is the set a
    polite crawler may fetch concurrently without hitting any host more
    than ``per_wave`` times; the crawl loop drains waves in order.

    The window partitions by HOST — the politeness domain — so each
    host's ranking sorts independently (no global order, no single
    reducer: the partitioned-window shape the repo's plan invariant
    allows). Skew note: a hub host with millions of frontier targets
    makes one fat partition, but the per-host ranking IS the quantity
    politeness needs — it cannot be salted away, and it is bounded by
    the frontier aggregate (one row per distinct target), never by raw
    link volume. ``wave = rn div per_wave`` stays in exact long
    arithmetic, so the row is hash-verifiable.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("host").orderBy(
        F.desc("priority_scaled"), F.asc("url_canon")
    )
    ranked = frontier.select(
        "url_canon",
        "host",
        "priority_scaled",
        (F.row_number().over(w) - 1).alias("__rn"),
    )
    return ranked.select(
        "url_canon",
        "host",
        "priority_scaled",
        F.expr(f"__rn div {int(per_wave)}").alias("wave"),
    )
