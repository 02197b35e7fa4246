"""Web-page text operators: HTML -> text extraction, paragraph-level
dedup, URL/host analysis.

The input_hint's pages carry `html binary` + `text string` with a
byte-identity invariant on extracted text — these are the operators a
Common-Crawl-style training-data pipeline runs between the WARC scan and
the dedup/quality stages. Everything here is built-in expressions
(regexp_replace / regexp_extract_all / split on the JVM — no Python on the
fact table), and every regex/arithmetic step is shared verbatim with the
DuckDB oracle (Java regex and RE2 agree on the subset used: lazy
quantifiers, (?s), explicit whitespace classes; NO backreferences — RE2
lacks them, so script/style stripping is two passes).

Whitespace note: Java's \\s includes \\x0B, RE2's does not — the explicit
class WS_CLASS keeps both engines identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# shared regex vocabulary (Java regex == RE2 for these)
PAT_SCRIPT = r"(?s)<script[^>]*>.*?</script>"
PAT_STYLE = r"(?s)<style[^>]*>.*?</style>"
PAT_TAG = r"<[^>]*>"
WS_CLASS = r"[ \t\n\r\f]+"
PAT_PARAGRAPH = r"(?s)<p[^>]*>(.*?)</p>"
# minimal entity set; &amp; must decode LAST or it would double-decode
ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]
PAT_HOST = r"^[a-z]+://([^/]+)"
HOST_CAP = 3  # pages host_cap keeps per host
CO_CITATION_HOSTS = 32  # distinct hosts per page that co_citation pairs


def strip_markup_col(html_text: Column) -> Column:
    """script/style blocks out, tags -> spaces, entities decoded,
    whitespace collapsed + trimmed."""
    s = F.regexp_replace(html_text, PAT_SCRIPT, "")
    s = F.regexp_replace(s, PAT_STYLE, "")
    s = F.regexp_replace(s, PAT_TAG, " ")
    for ent, ch in ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.regexp_replace(s, WS_CLASS, " ")
    return F.trim(s)


def extract_text_col(html_bin: Column) -> Column:
    """binary html -> extracted text (utf-8 decode + strip_markup_col)."""
    return strip_markup_col(F.decode(html_bin, "utf-8"))


def extract_paragraphs(pages: DataFrame) -> DataFrame:
    """One row per <p> block: (key, para_idx, paragraph) with the paragraph
    content markup-stripped. posexplode keeps the in-document order."""
    html_text = F.decode(F.col("html"), "utf-8")
    nosrc = F.regexp_replace(F.regexp_replace(html_text, PAT_SCRIPT, ""), PAT_STYLE, "")
    paras = F.regexp_extract_all(nosrc, F.lit(PAT_PARAGRAPH), 1)
    return pages.select(
        F.col("url").alias("key"), F.posexplode(paras).alias("para_idx", "raw")
    ).select("key", "para_idx", strip_markup_col(F.col("raw")).alias("paragraph"))


def paragraph_dedup(paragraphs: DataFrame) -> DataFrame:
    """Paragraph-level exact dedup (the RefinedWeb/CCNet line-dedup shape):
    group identical normalized paragraphs by md5, keep the smallest owner
    key and the copy count. One shuffle on the digest with map-side
    partials; empty paragraphs are dropped."""
    return (
        paragraphs.where(F.length("paragraph") >= 1)
        .groupBy(F.md5("paragraph").alias("para_hash"))
        .agg(
            F.min("key").alias("owner"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def url_host_col(url: Column) -> Column:
    return F.regexp_extract(url, PAT_HOST, 1)


def host_stats(pages: DataFrame) -> DataFrame:
    """Per-host rollup: page count, distinct languages, total text bytes —
    the standard per-domain quality/quota view. One shuffle, map-side
    partials; hosts follow a Zipf at CC scale, so downstream consumers
    should treat the biggest hosts as skew keys (AQE handles the agg;
    joins against this table broadcast — it is tiny relative to pages)."""
    return (
        pages.select(url_host_col(F.col("url")).alias("host"), "lang", F.length("text").alias("nb"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("nb").alias("text_bytes"),
        )
    )


# --- URL canonicalization + per-host quotas ---------------------------------
#
# Canonical form (documented choices, applied in this order):
#   fragment dropped; http -> https; host lowercased; leading "www." dropped;
#   default ports :80/:443 dropped; trailing slash dropped; tracking query
#   params (utm_*, fbclid, gclid) dropped, other params kept in order; "?"
#   dropped when no params survive. All regexp/array expressions on the JVM;
#   the DuckDB twin (oracle._canonical_url_cte) shares these pattern
#   constants verbatim (RE2 == Java regex for this subset; replacement
#   group syntax is the one dialect difference: $1 vs \1).
PAT_FRAGMENT = r"#.*$"
PAT_HTTP_SCHEME = r"^http://"
PAT_QUERY = r"\?.*$"
PAT_QS_EXTRACT = r"\?(.*)$"
PAT_AUTHORITY = r"^https://([^/]+)"
PAT_AUTHORITY_STRIP = r"^https://[^/]+"
PAT_WWW = r"^https://www\."
# group 3 (/ or end) always participates — RE2 lacks lookahead, and a
# non-participating group's replacement semantics differ across engines;
# it also stops ':80' from eating the front of ':8080'
PAT_DEFAULT_PORT = r"^(https://[^/:]+):(80|443)(/|$)"
PAT_TRAILING_SLASH = r"/$"


def _keep_param(p: Column) -> Column:
    """Tracking-parameter predicate, via exact prefix compares (LIKE's `_`
    is a wildcard, so 'utm_%' would also match 'utmX')."""
    return (
        (F.substring(p, 1, 4) != "utm_")
        & (F.substring(p, 1, 7) != "fbclid=")
        & (F.substring(p, 1, 6) != "gclid=")
        & (p != "")
    )


def canonical_url_col(url: Column) -> Column:
    """Canonical URL column (see module comment for the exact rules)."""
    u = F.regexp_replace(F.regexp_replace(url, PAT_FRAGMENT, ""), PAT_HTTP_SCHEME, "https://")
    base = F.regexp_replace(u, PAT_QUERY, "")
    # lowercase the authority only (paths stay case-sensitive)
    base = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract(base, PAT_AUTHORITY, 1)),
        F.regexp_replace(base, PAT_AUTHORITY_STRIP, ""),
    )
    base = F.regexp_replace(base, PAT_WWW, "https://")
    base = F.regexp_replace(base, PAT_DEFAULT_PORT, "$1$3")
    base = F.regexp_replace(base, PAT_TRAILING_SLASH, "")
    joined = F.array_join(F.filter(F.split(F.regexp_extract(u, PAT_QS_EXTRACT, 1), "&"), _keep_param), "&")
    return F.concat(
        base, F.when(F.length(joined) > 0, F.concat(F.lit("?"), joined)).otherwise(F.lit(""))
    )


def url_canonicalize(pages: DataFrame) -> DataFrame:
    return pages.withColumn("canonical_url", canonical_url_col(F.col("url")))


def canonical_url_dedup(pages: DataFrame) -> DataFrame:
    """Exact dedup on the canonical URL (the crawl-frontier/recrawl dedup
    every web pipeline runs before content dedup): one shuffle on the
    canonical key, smallest raw URL kept as representative."""
    return (
        url_canonicalize(pages)
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_variants"), F.min("url").alias("representative"))
    )


def host_cap(pages: DataFrame) -> DataFrame:
    """Per-host document quota (per-domain frequency capping): keep at most
    HOST_CAP pages per host, chosen by md5(url) order so the SAME pages
    survive at any parallelism, on re-runs, and in the DuckDB oracle —
    never by arrival order, which is partition-dependent.

    Scale shape: one shuffle partitioning by host; row_number only needs a
    per-host sort. Hosts are Zipf-skewed at CC scale, but the rank-limit
    filter lets Spark insert WindowGroupLimit BELOW the exchange (visible
    in PLANS.md): every map task pre-prunes to its local top-cap per host,
    so at most cap * map_tasks rows per host ever shuffle — a monster host
    costs its reducer a merge of pre-pruned runs, not a full sort."""
    from pyspark.sql import Window

    ranked = pages.select(url_host_col(F.col("url")).alias("host"), "url").withColumn(
        "host_rank", F.row_number().over(Window.partitionBy("host").orderBy(F.md5("url")))
    )
    return ranked.where(F.col("host_rank") <= HOST_CAP)


# --- deterministic synthetic html (gate scaffolding) -----------------------


def messy_url_sql(dialect: str) -> str:
    """SQL building a deterministically 'messy' URL per document — scheme /
    www / host-case / default-port / trailing-slash / tracking-param /
    fragment variants keyed off doc_id residues, with the path collapsed to
    doc_id % 50 so several messy URLs share one canonical form (making the
    canonical dedup non-trivial). Identical string in Spark and DuckDB."""
    t = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        "concat("
        "CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END, "
        "CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END, "
        "CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END, "
        "'.example', "
        "CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END, "
        f"'/pages/', CAST(doc_id % 50 AS {t}), "
        "CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END, "
        f"CASE WHEN doc_id % 11 = 0 THEN concat('?page=', CAST(doc_id % 5 AS {t}), '&utm_source=feed') "
        "WHEN doc_id % 2 = 1 THEN '?utm_campaign=x&gclid=abc123' ELSE '' END, "
        "CASE WHEN doc_id % 3 = 1 THEN '#section2' ELSE '' END)"
    )


def synth_messy_urls(spark, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, url) with the deterministic messy wrap."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return spark.sql(f"SELECT doc_id, {messy_url_sql('spark')} AS url FROM documents")


def html_wrap_sql(dialect: str) -> str:
    """SQL building a deterministic html payload around a document's text —
    title + one script + one style block + two <p> paragraphs split at a
    fixed char offset, with an entity-encoded marker exercising the decode
    path. Identical string in Spark and DuckDB (concat/substring are
    1-based in both)."""
    cast = "CAST(doc_id AS STRING)" if dialect == "spark" else "CAST(doc_id AS VARCHAR)"
    p1 = "substring(text, 1, 120)"
    p2 = "substring(text, 121, 1000000)"
    return (
        "concat('<html><head><title>Doc ', "
        + cast
        + ", '</title><script>var x = 1 &amp;&amp; 2;</script>"
        + "<style>p { color: red; }</style></head><body>"
        + "<p class=\"lead\">', "
        + p1
        + ", '</p>\n<p>', "
        + p2
        + ", ' &lt;end&gt;</p></body></html>')"
    )


PAT_HREF = 'href="([^"]*)"'
N_ANCHOR_SLOTS = 3


def anchors_sql(dialect: str) -> str:
    """SQL for the deterministic anchor block appended to a page's html:
    slot i (1..3) renders only when i <= 1 + doc_id % 3, targeting host
    (doc_id*37 + i*11) % 97 and page (doc_id*13 + i) % 1000 — pure integer
    affine maps, identical in both engines, giving a variable out-degree
    and a 97-host Zipf-free target lattice."""
    cast = "AS STRING" if dialect == "spark" else "AS VARCHAR"
    slots = []
    for i in range(1, N_ANCHOR_SLOTS + 1):
        host = f"CAST((doc_id * 37 + {i * 11}) % 97 {cast})"
        page = f"CAST((doc_id * 13 + {i}) % 1000 {cast})"
        slots.append(
            f"(CASE WHEN 1 + doc_id % 3 >= {i} THEN "
            f"concat('<a href=\"https://host', {host}, '.example.com/p/', {page}, "
            f"'\">l{i}</a>') ELSE '' END)"
        )
    return "concat(" + ", ".join(slots) + ")"


def linked_html_sql(dialect: str) -> str:
    """html_wrap_sql payload with the anchor block spliced in before
    </body> (replace() runs once — the wrap contains exactly one)."""
    return (
        f"replace({html_wrap_sql(dialect)}, '</body>', "
        f"concat({anchors_sql(dialect)}, '</body>'))"
    )


def synth_linked_pages(spark, sf_dir: str) -> DataFrame:
    """documents -> (url, doc_id, html binary) with deterministic anchors."""
    from ..sources.pages import url_sql

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return spark.sql(
        f"SELECT {url_sql('spark')} AS url, doc_id, "
        f"encode({linked_html_sql('spark')}, 'utf-8') AS html FROM documents"
    )


def extract_links(pages: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """One row per outgoing href: (key, link). Pure codegen — utf-8 decode
    + one RE2-safe regexp_extract_all + explode; no Python touches the
    bytes. The fan-out is bounded by the page's anchor count, so the
    explode is shuffle-free (narrow) and downstream aggs do the only
    exchanges."""
    links = F.regexp_extract_all(F.decode(F.col("html"), "utf-8"), F.lit(PAT_HREF), 1)
    return pages.select(F.col(key_col).alias("key"), F.explode(links).alias("link"))


def host_link_graph(pages: DataFrame) -> DataFrame:
    """Host-level hyperlink graph: (src_host, dst_host, n_links) — the
    CC-style web-graph rollup used for domain ranking and crawl frontier
    scoring. One shuffle (the groupBy); the href explode stays narrow.
    src hosts follow the corpus host distribution, so the agg's skew keys
    are the big hosts — AQE's skew handling covers the exchange."""
    links = extract_links(pages, key_col="url")
    return (
        links.select(
            url_host_col(F.col("key")).alias("src_host"),
            url_host_col(F.col("link")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def synth_html_pages(spark, sf_dir: str) -> DataFrame:
    """documents -> (url, html binary) with the deterministic wrap."""
    from ..sources.pages import url_sql

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")
    return spark.sql(
        f"SELECT {url_sql('spark')} AS url, doc_id, text, lang, "
        f"encode({html_wrap_sql('spark')}, 'utf-8') AS html FROM documents"
    )


def _host_graph(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the extracted host graph: `host` nodes and
    `src` -> `dst` host edges, one per link (parallel edges kept). Both feed
    2+ consumers (degree + per-round joins) and would otherwise re-run the
    regex explode per round."""
    from pyspark.storagelevel import StorageLevel

    links = extract_links(pages, key_col="url")
    # persist, not checkpoint (r7): same materialize-once guarantee for the
    # round-invariant edge/node inputs, shared across invocations in a
    # session (per-round rank state is materialized separately)
    edges = links.select(
        url_host_col(F.col("key")).alias("src"),
        url_host_col(F.col("link")).alias("dst"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return nodes, edges


def link_pagerank(pages: DataFrame) -> DataFrame:
    """Integer-exact PageRank over the REAL extracted host graph — the
    end-to-end web pipeline composition (href regex -> host edges ->
    graph.pagerank_int). Parallel edges (repeated links between the same
    host pair) keep their multiplicity, the standard weighted-crawl
    treatment. Host ids stay strings through the rank joins (no dense-id
    pass needed — join keys hash either way); ranks are exact BIGINTs so
    the whole composition hash-gates."""
    from .graph import pagerank_int

    nodes, edges = _host_graph(pages)
    return pagerank_int(nodes, edges, key_col="host")


PAT_ANCHOR = '<a href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_anchor_texts(pages: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """(key, link, anchor_text) per anchor — the anchor-text corpus used
    for link-prediction / title-augmentation training data. Both capture
    groups come from the SAME pattern via two regexp_extract_all calls
    zipped positionally (each anchor matches exactly once, so the arrays
    align); RE2-safe — no backreferences or lookahead."""
    html_text = F.decode(F.col("html"), "utf-8")
    links = F.regexp_extract_all(html_text, F.lit(PAT_ANCHOR), 1)
    texts = F.regexp_extract_all(html_text, F.lit(PAT_ANCHOR), 2)
    pairs = F.arrays_zip(links.alias("link"), texts.alias("anchor_text"))
    return pages.select(F.col(key_col).alias("key"), F.explode(pairs).alias("a")).select(
        "key", F.col("a.link").alias("link"), F.col("a.anchor_text").alias("anchor_text")
    )


def boilerplate_scrub(pages: DataFrame) -> DataFrame:
    """RefinedWeb/CCNet-style boilerplate removal, end to end: paragraphs
    appearing on >= 2 DISTINCT pages (nav bars, footers, cookie
    banners) are scrubbed from every page and the page text is
    reconstructed from the survivors in document order. Output
    (key, clean_text, n_kept, n_removed).

    Scale shape: the page-frequency table aggregates (key, digest) rows
    FIRST so the distinct-page count is COUNT(*) (never a COUNT DISTINCT
    expand); the hot set is frequency-thresholded so it is orders of
    magnitude smaller than the paragraph stream (AQE broadcasts it when it
    fits — no forced hint, boilerplate sets at CC scale can exceed a
    broadcast). The paragraph explode (regex over full pages) feeds two
    consumers, so it is localCheckpoint()ed once (fan-out-reuse rule)."""
    from ..plans.fanout import fan_out

    # the paragraph regex + html decode is the CPU wall here — fan out
    # narrow scans before it (A/B-measured ~2x; the sibling link operators
    # are join-dominated and measured FASTER without it, so the fan-out
    # lives here, not in synth_linked_pages)
    pages = fan_out(pages)
    paras = extract_paragraphs(pages).withColumn("h", F.md5("paragraph")).localCheckpoint()
    hot = (
        paras.select("key", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("np"))
        .where(F.col("np") >= 2)
        .select("h", F.lit(1).alias("is_hot"))
    )
    marked = paras.join(hot, "h", "left")
    ps = F.sort_array(F.collect_list(F.struct("para_idx", "paragraph", "is_hot")))
    return (
        marked.groupBy("key")
        .agg(ps.alias("ps"))
        .select(
            "key",
            F.array_join(
                F.expr("transform(filter(ps, p -> p.is_hot IS NULL), p -> p.paragraph)"),
                "\n",
            ).alias("clean_text"),
            F.expr("size(filter(ps, p -> p.is_hot IS NULL))").cast("bigint").alias("n_kept"),
            F.expr("size(filter(ps, p -> p.is_hot IS NOT NULL))").cast("bigint").alias("n_removed"),
        )
    )


def host_components(pages: DataFrame) -> DataFrame:
    """Weakly-connected components of the host link graph: (host,
    component) where component = the smallest host name reachable through
    links in either direction — the crawl-frontier partitioning / mirror-
    farm grouping view. Reuses the min-label propagation engine
    (dedup.duplicate_clusters: rounds = component diameter, fixpoint
    early-exit, RAISES on non-convergence rather than returning partial
    labels). Self-links collapse harmlessly (a node is always its own
    candidate label)."""
    from .dedup import duplicate_clusters

    edges = host_link_graph(pages).select(
        F.col("src_host").alias("key_a"), F.col("dst_host").alias("key_b")
    )
    return duplicate_clusters(edges).select(
        F.col("key").alias("host"), F.col("cluster_id").alias("component")
    )


def co_citation(pages: DataFrame) -> DataFrame:
    """Co-citation counts: pairs of hosts linked from the SAME page,
    counted across pages — the classic relatedness signal (Small 1973 /
    HITS-adjacent) crawl analytics build host similarity from. Output
    (host_a, host_b, n_pages) with host_a < host_b.

    Scale shape: the quadratic is BOUNDED BY CONSTRUCTION — each page
    keeps at most CO_CITATION_HOSTS distinct hosts (deterministic md5
    order, the host_cap precedent) before pairing, so a link-farm page
    with 10^4 hrefs contributes at most C(32,2) pairs, not 5x10^7. The
    pair explosion happens in a per-page self-join keyed on url (each key
    carries <= 32 rows); the final count is one map-side-partial shuffle
    on the pair."""
    from pyspark.sql import Window

    hosts = (
        extract_links(pages, key_col="url")
        .select("key", url_host_col(F.col("link")).alias("host"))
        .where(F.col("host") != "")
        .distinct()
    )
    w = Window.partitionBy("key").orderBy(F.md5(F.concat("key", F.lit("|"), "host")))
    capped = (
        hosts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= CO_CITATION_HOSTS)
        .drop("rn")
        .localCheckpoint()  # feeds both self-join sides; re-running the
        # explode + distinct + window per side would double the heavy work
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.host") < F.col("b.host")))
        .groupBy(F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def host_degree_histogram(pages: DataFrame) -> DataFrame:
    """Degree distribution of the host link graph: (out_degree,
    n_hosts) — the power-law sanity check every web-graph pipeline plots
    before trusting rank/component outputs (and the input to skew
    decisions: the head of this histogram IS the salt-worthy key set).
    Distinct-neighbor degree (parallel edges collapse). Two
    map-side-partial shuffles, both at host/degree granularity."""
    edges = host_link_graph(pages)
    deg = edges.groupBy("src_host").agg(F.count(F.lit(1)).alias("out_degree"))
    return deg.groupBy("out_degree").agg(F.count(F.lit(1)).alias("n_hosts"))


def url_path_stats(pages: DataFrame) -> DataFrame:
    """Per-host URL shape profile: (host, n_pages, max_depth, total_depth,
    n_with_query) where depth counts path segments — the crawl-frontier
    heuristic inputs (deep paths and query-string URLs are low-priority /
    trap-prone). Pure codegen string ops + one host-granularity shuffle;
    depth = occurrences of '/' after the scheme+host prefix, exact
    integers throughout."""
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]*", "")
    depth = (F.length(path) - F.length(F.regexp_replace(path, "/", ""))).cast("bigint")
    has_q = F.col("url").contains("?").cast("bigint")
    return (
        pages.select(url_host_col(F.col("url")).alias("host"), depth.alias("d"), has_q.alias("q"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.max("d").alias("max_depth"),
            F.sum("d").cast("bigint").alias("total_depth"),
            F.sum("q").cast("bigint").alias("n_with_query"),
        )
    )


def reciprocal_links(pages: DataFrame) -> DataFrame:
    """Reciprocal host links — pairs linking each other (link-exchange /
    mirror detection, a classic spam signal): (host_a, host_b, n_ab,
    n_ba) with host_a < host_b, counts = parallel-link multiplicities in
    each direction.

    Scale shape: the host-pair rollup collapses the link stream first;
    the reciprocity check is a self-join of that pair table against its
    own flipped projection on the canonicalized pair key — pair-table
    scale, one equi-join. The pair rollup feeds both sides, so it is
    localCheckpoint()ed once (fan-out rule)."""
    g = host_link_graph(pages).where(F.col("src_host") != F.col("dst_host")).localCheckpoint()
    fwd = g.where(F.col("src_host") < F.col("dst_host")).select(
        F.col("src_host").alias("host_a"), F.col("dst_host").alias("host_b"), F.col("n_links").alias("n_ab")
    )
    rev = g.where(F.col("src_host") > F.col("dst_host")).select(
        F.col("dst_host").alias("host_a"), F.col("src_host").alias("host_b"), F.col("n_links").alias("n_ba")
    )
    return fwd.join(rev, ["host_a", "host_b"])


# deterministic reciprocal-link pages appended to the gate input for
# reciprocal_links (the synthetic circulant topology has none): r1 <-> r2
# (r1 links r2 twice), r3 -> r1 unreciprocated.
RECIPROCAL_GATE_PAGES: tuple[tuple[str, str], ...] = (
    ("http://r1.example/a", '<p><a href="http://r2.example/x">x</a> <a href="http://r2.example/y">y</a></p>'),
    ("http://r2.example/b", '<p><a href="http://r1.example/z">z</a></p>'),
    ("http://r3.example/c", '<p><a href="http://r1.example/w">w</a></p>'),
)


def host_bfs_depth(pages: DataFrame) -> DataFrame:
    """Hop distance of every host from the lexicographically smallest
    host in the link graph (undirected) — the crawl-frontier 'rings from
    the seed' view. Composes href extraction with graph.bfs_depth; the
    seed is data-derived (MIN host), so the query is a pure function of
    the pages table."""
    from .graph import bfs_depth

    g = host_link_graph(pages).select("src_host", "dst_host").localCheckpoint()
    seed = g.select(F.least(F.min("src_host"), F.min("dst_host")).alias("m")).collect()[0]["m"]
    return bfs_depth(g, seed).select(
        F.col("node").alias("host"), F.col("depth").cast("int").alias("depth")
    )


def synth_robots_rules(pages: DataFrame) -> DataFrame:
    """Deterministic per-host robots rules (host, rule_path, allow):
    Disallow '/<d1>', Allow '/<d1><d2>' (the more specific override), and
    the Allow-all '/' fallback, with d1/d2 digits derived from md5(host) —
    a pure function of the host set, recomputable by the oracle."""
    hosts = pages.select(url_host_col(F.col("url")).alias("host")).distinct()
    hx = F.md5("host")
    v = lambda i: F.conv(F.substring(hx, i, 1), 16, 10).cast("int") % 10  # noqa: E731
    d1 = F.expr("chr(48 + v1)")
    d2 = F.expr("chr(48 + v2)")
    rules = F.array(
        F.struct(F.concat(F.lit("/"), d1).alias("rule_path"), F.lit(False).alias("allow")),
        F.struct(F.concat(F.lit("/"), d1, d2).alias("rule_path"), F.lit(True).alias("allow")),
        F.struct(F.lit("/").alias("rule_path"), F.lit(True).alias("allow")),
    )
    return (
        hosts.select("host", v(1).alias("v1"), v(2).alias("v2"))
        .select("host", F.explode(rules).alias("r"))
        .select("host", F.col("r.rule_path"), F.col("r.allow"))
    )


def robots_filter(pages: DataFrame, rules: DataFrame | None = None) -> DataFrame:
    """Robots longest-match verdict per URL (the Google rule: the most
    specific — longest — matching path rule wins; ties break to Allow):
    (url, allowed, matched_rule). A match is a path PREFIX comparison, so
    matching + argmax are pure codegen (substring equality + one max-by
    struct ordered (len, allow, rule)); the rules table is hosts x 3 rows
    and broadcasts. One shuffle: the per-url argmax groupBy."""
    if rules is None:
        rules = synth_robots_rules(pages)
    # a URL with no path component ('https://host') extracts '' — default it
    # to '/' so the Allow-all rule matches and every URL gets a verdict
    # (r5 advice: the empty path failed even the '/' prefix test, silently
    # dropping the row through the inner join)
    raw_path = F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]*(/.*)$", 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    base = pages.select(
        "url", url_host_col(F.col("url")).alias("host"), path.alias("path")
    )
    joined = base.join(F.broadcast(rules), "host").where(
        F.substring(F.col("path"), 1, F.length("rule_path")) == F.col("rule_path")
    )
    best = joined.groupBy("url").agg(
        F.max(
            F.struct(
                F.length("rule_path").alias("ln"),
                F.col("allow"),
                F.col("rule_path"),
            )
        ).alias("_b")
    )
    return best.select(
        "url", F.col("_b.allow").alias("allowed"), F.col("_b.rule_path").alias("matched_rule")
    )


# Two-level public suffixes for registered-domain extraction: a SMALL,
# explicit subset of the Public Suffix List (the full PSL is a versioned
# external artifact; host caps and crawl quotas only need the common
# country-code second-levels to avoid treating 'co.uk' as a domain).
TWO_LEVEL_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "org.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.nz", "com.sg",
)


def registered_domain_col(host: Column) -> Column:
    """Registered domain of a hostname: last two labels, or last THREE
    when the last two form a listed public suffix (so 'a.b.co.uk' ->
    'b.co.uk', 'a.b.example.com' -> 'example.com'). Pure codegen — split,
    slice, array_join, one IN list — zero shuffles; single-label hosts
    pass through unchanged."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    # greatest(, 1) guards: ANSI slice raises on start 0 and CASE branch
    # laziness is an implementation detail, not a contract
    last2 = F.array_join(F.slice(labels, F.greatest(n - 1, F.lit(1)), 2), ".")
    last3 = F.array_join(F.slice(labels, F.greatest(n - 2, F.lit(1)), 3), ".")
    is_two_level = last2.isin(*TWO_LEVEL_SUFFIXES)
    return F.when(n <= 1, host).when(
        is_two_level & (n >= 3), last3
    ).otherwise(F.when(n >= 2, last2).otherwise(host))


def domain_stats(pages: DataFrame) -> DataFrame:
    """Per-REGISTERED-DOMAIN rollup (the quota/cap granularity crawl
    pipelines actually enforce — host caps over-split: every subdomain of
    a link farm would get its own budget): (domain, n_urls, n_hosts,
    n_chars). One shuffle keyed on the domain; map-side partials; the
    domain key is computed in codegen before the exchange."""
    host = url_host_col(F.col("url"))
    base = pages.select(
        registered_domain_col(host).alias("domain"),
        host.alias("host"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return base.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("n_chars").alias("n_chars"),
    )


def link_hits(pages: DataFrame) -> DataFrame:
    """Integer-exact HITS over the REAL extracted host graph (href regex
    -> host edges -> graph.hits_int) — domain hub/authority scoring, the
    link_pagerank composition with the alternating recurrence."""
    from .graph import hits_int

    nodes, edges = _host_graph(pages)
    return hits_int(nodes, edges)


def link_internal_stats(pages: DataFrame) -> DataFrame:
    """Per-source-REGISTERED-DOMAIN outlink profile: total links, internal
    (same registered domain) vs external, and the internal ratio — the
    link-farm / SEO-pattern signal crawl schedulers threshold on. Pure
    codegen link + domain extraction, one domain-keyed shuffle; the ratio
    is one double division of exact BIGINTs."""
    links = extract_links(pages, key_col="url")
    lab = links.select(
        registered_domain_col(url_host_col(F.col("key"))).alias("src_domain"),
        registered_domain_col(url_host_col(F.col("link"))).alias("dst_domain"),
    )
    return (
        lab.groupBy("src_domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum((F.col("src_domain") == F.col("dst_domain")).cast("bigint")).alias("n_internal"),
        )
        .select(
            "src_domain",
            "n_links",
            "n_internal",
            (F.col("n_links") - F.col("n_internal")).alias("n_external"),
            (F.col("n_internal").cast("double") / F.col("n_links").cast("double")).alias(
                "internal_ratio"
            ),
        )
    )


def anchor_target_stats(pages: DataFrame) -> DataFrame:
    """Per-link-TARGET anchor-text rollup — the anchor corpus view used
    for title augmentation / link-prediction data: (link, n_anchors,
    n_unique_texts, top_anchor, top_count), top = modal anchor text with
    ties broken by text ASC (a total order both engines share).

    Scale shape: (link, text)-level aggregation FIRST (map-side partials,
    the repeated-grams rule), then a per-link window over the handful of
    distinct texts per target; WindowGroupLimit keeps only the winner."""
    from pyspark.sql import Window

    per_text = (
        extract_anchor_texts(pages, key_col="url")
        .groupBy("link", "anchor_text")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # feeds the window AND the totals (fan-out rule)
    )
    w = Window.partitionBy("link").orderBy(F.col("cnt").desc(), F.col("anchor_text"))
    ranked = per_text.withColumn("rn", F.row_number().over(w))
    totals = per_text.groupBy("link").agg(
        F.sum("cnt").alias("n_anchors"), F.count(F.lit(1)).alias("n_unique_texts")
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select("link", F.col("anchor_text").alias("top_anchor"), F.col("cnt").alias("top_count"))
        .join(totals, "link")
        .select("link", "n_anchors", "n_unique_texts", "top_anchor", "top_count")
    )


def web_prefilter(pages: DataFrame) -> DataFrame:
    """Composed crawl PRE-FILTER stage — the end-to-end URL hygiene pass a
    web pipeline runs before any content work, gated as ONE query so the
    operator interfaces are exercised together (the corpus-pipeline
    precedent): canonicalize -> canonical-URL dedup (md5-stable
    representative) -> robots longest-match filter (allowed only) ->
    per-host quota. Output (host, url, host_rank) of the survivors.

    Scale shape: each stage keeps its own documented shape (regex codegen,
    one digest-keyed dedup exchange, broadcast rules join + per-url argmax,
    WindowGroupLimit host cap); the representative frame feeds the robots
    join AND the keep join -> localCheckpoint."""
    rep = (
        url_canonicalize(pages)
        .groupBy("canonical_url")
        .agg(F.min("url").alias("url"))
        .localCheckpoint()
    )
    verdict = robots_filter(rep)
    keep = rep.join(verdict.where(F.col("allowed")).select("url"), "url")
    return host_cap(keep)
