"""Web-corpus URL operators: canonicalization and per-domain rollups.

Every Common-Crawl-style pipeline needs a canonical URL before it can do
per-domain statistics, per-domain caps, or URL-level dedup: the same page
arrives as ``HTTP://WWW.Example.COM:80/a#frag`` and
``http://example.com/a``. Canonicalization here is pure string/regex
expressions (whole-stage codegen, zero UDFs, zero shuffles) and is
replayed verbatim by the DuckDB oracle — every regex is anchored or
matches-to-end, so Spark's replace-all vs DuckDB's replace-first
difference can never bite.

Normalization rules (deliberately the conservative, loss-free subset):
  - strip the fragment (``#...``);
  - lowercase scheme and host;
  - strip userinfo (``user:pass@``);
  - drop the default port (``:80`` for http, ``:443`` for https) but keep
    explicit non-default ports;
  - strip one leading ``www.`` label;
  - empty path becomes ``/`` (query strings are preserved as-is).

``registrable_domain`` is the naive last-two-labels rule ("example.com"
from "a.b.example.com") — a stand-in for the public-suffix list, which is
a data file, not an algorithm; swapping it in changes one expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from ._util import checkpoint_rows

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"


def url_parts(url: Column):
    """Decompose a URL column into (scheme, host, port, pathq) columns.

    host is lowercased with userinfo and port stripped; pathq is the raw
    path+query ('' when absent); port is the explicit port digits or ''.
    """
    u = F.regexp_replace(url, r"#.*", "")          # fragment off
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    pathq = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 30))
    hp = F.regexp_replace(hostport, r"^[^@]*@", "")  # userinfo off
    port = F.regexp_extract(hp, r":([0-9]+)$", 1)
    host = F.lower(F.regexp_replace(hp, r":[0-9]+$", ""))
    return scheme, host, port, pathq


def normalize_url(url: Column) -> Column:
    """Canonical URL string per the module rules."""
    scheme, host, port, pathq = url_parts(url)
    host_n = F.regexp_replace(host, r"^www\.", "")
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port != "") & ~default_port, F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    path_part = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    return F.concat(scheme, F.lit("://"), host_n, port_part, path_part)


def registrable_domain(url: Column) -> Column:
    """Naive eTLD+1: the last two dot-labels of the normalized host
    (the bare host when it has no dot)."""
    _, host, _, _ = url_parts(url)
    host_n = F.regexp_replace(host, r"^www\.", "")
    dom = F.regexp_extract(host_n, r"([^.]+\.[^.]+)$", 1)
    return F.when(dom == "", host_n).otherwise(dom)


def canonicalize(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Add url_norm / host / domain columns to a pages DataFrame.

    Pure projection — runs inside the scan stage at any scale.
    """
    u = F.col(url_col)
    _, host, _, _ = url_parts(u)
    return pages.withColumns({
        "url_norm": normalize_url(u),
        "host": F.regexp_replace(host, r"^www\.", ""),
        "domain": registrable_domain(u),
    })


def domain_stats(pages: DataFrame, url_col: str = "url",
                 size_col: str = None) -> DataFrame:
    """Per-registrable-domain rollup: page count, distinct hosts, and
    (optionally) total content size. One hash shuffle with map-side
    partial aggregation; the canonicalization itself is free (scan-stage
    expressions), so at 100 TB this costs exactly one agg exchange keyed
    by domain — the natural key for crawl politeness / quota decisions.
    """
    c = canonicalize(pages, url_col)
    aggs = [
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    ]
    if size_col is not None:
        aggs.append(F.sum(F.col(size_col)).cast("long").alias("total_size"))
    return c.groupBy("domain").agg(*aggs)


#: double-quoted href attributes; single-quoted/bare attrs deliberately
#: excluded (conservative extraction — recall tuning is a data decision)
HREF_RE = r'href="([^"]*)"'


def extract_links(pages: DataFrame, src_url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """One row per href occurrence: (src_url, dst_url).

    ``regexp_extract_all`` + explode — scan-stage work, no shuffle; the
    Common-Crawl link-extraction step. Duplicate links are preserved
    (multiplicities matter for weighted graphs).
    """
    return pages.select(
        F.col(src_url_col).alias("src_url"),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(HREF_RE), 1)
        ).alias("dst_url"),
    )


def domain_link_graph(pages: DataFrame, src_url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """The weighted inter-domain link graph:
    (src_domain, dst_domain, n_links), intra-domain links dropped.

    This is the input to web-scale PageRank (`graph.pagerank`) and to
    domain-authority curation signals. Canonicalization is scan-stage
    expressions; the single exchange is the (src_domain, dst_domain)
    count aggregation with map-side combine. Domains fan sub-linearly
    (the web's host power law), so the agg output is tiny relative to
    the link stream.
    """
    links = extract_links(pages, src_url_col, html_col)
    # only absolute URLs carry a resolvable domain: relative links would
    # need the base URL, and malformed hrefs ('', 'not a url', 'javascript:'
    # without //) would otherwise mint garbage domain nodes (found by an
    # end-to-end drive — an empty-href '' domain out-ranked the real hub)
    absolute = links.filter(
        F.col("dst_url").rlike(_SCHEME_RE)
    )
    g = absolute.select(
        registrable_domain(F.col("src_url")).alias("src_domain"),
        registrable_domain(F.col("dst_url")).alias("dst_domain"),
    ).filter(F.col("src_domain") != F.col("dst_domain"))
    return g.groupBy("src_domain", "dst_domain").agg(
        F.count("*").cast("long").alias("n_links")
    )


def keep_latest(pages: DataFrame, key_col: str = "url_norm",
                ts_col: str = "crawl_ts",
                id_col: str = "doc_id") -> DataFrame:
    """Recrawl dedup: one row per key — the LATEST crawl (max ``ts_col``,
    ``id_col`` descending tie-break). The standard first reduction over a
    raw crawl table, where the same canonical URL appears once per fetch.

    Scale shape: a per-key top-1 window — partitions are recrawl-count
    sized (not corpus-sized), and Spark's WindowGroupLimit pushes the
    rank<=1 cut map-side before the shuffle, so the exchange carries at
    most one row per (task, key) rather than every fetch.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.desc(ts_col), F.desc(id_col))
    return (
        pages.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def schedule_frontier(urls: DataFrame, per_domain: int = 2,
                      url_col: str = "url_norm",
                      domain_col: str = "domain",
                      priority_col: str = "priority") -> DataFrame:
    """Politeness-aware crawl-frontier scheduling: assign every URL a
    fetch window such that no domain gets more than ``per_domain``
    fetches per window — the standard crawl-rate constraint, expressed
    declaratively.

    Semantics (pure function of the input): URLs rank within their domain
    by priority desc / url asc; ``fetch_window = (rank-1) div per_domain``.
    High-priority URLs of every domain land in window 0, and a huge domain
    simply stretches across many windows instead of starving others.

    Scale shape: ONE per-domain ranking window — partitions are
    domain-sized. The web's domain sizes are power-law, so the biggest
    partition is the biggest domain's URL count; that is inherent to an
    exact per-domain sequence (a global interleave would serialize
    worse), and domains are independent so AQE's skew handling and the
    surrounding shuffle stay balanced. Output adds
    ``(rank_in_domain, fetch_window)``.
    """
    if per_domain <= 0:
        raise ValueError("per_domain must be positive")
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(
        F.desc(priority_col), F.asc(url_col))
    return (
        urls.withColumn("rank_in_domain",
                        F.row_number().over(w).cast("long"))
        .withColumn(
            "fetch_window",
            F.expr("(rank_in_domain - 1L) div {p}".format(
                p=int(per_domain))).cast("long"),
        )
    )


def domain_boilerplate(docs: DataFrame, n: int = 2, min_docs: int = 2,
                       thresh_ppm: int = 300_000, id_col: str = "doc_id",
                       text_col: str = "text",
                       domain_col: str = "source") -> DataFrame:
    """Domain-scoped boilerplate measurement — the CCNet/trafilatura idea
    (navigation text, footers, templates repeat across one site's pages,
    not across the web) at word n-gram granularity: a gram is boilerplate
    WITHIN a domain when it appears in at least ``thresh_ppm``/1e6 of that
    domain's documents (and at least ``min_docs`` of them). Emits per doc
    ``(doc_id, n_grams, n_boiler, boiler_ppm)`` — the fraction of the
    doc's distinct grams that are domain-boilerplate, the signal a
    cleaning pass thresholds on.

    Scale shape: gram occurrences aggregate map-side into per-(domain,
    gram) document counts; the flagged-gram table is small (real
    boilerplate is template text, a sliver of the gram space) and joins
    back onto the per-doc gram stream as an AQE-broadcast equi-join. No
    self-join, no sort, all-integer arithmetic (ppm threshold as a cross-
    multiplication, ``div`` for the final fraction — truncation parity
    with DuckDB is pinned in build notes).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    d = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(domain_col).alias("dom"),
            toks.alias("toks"),
        )
        .withColumn("n_toks", F.size("toks"))
        .filter(F.col("n_toks") >= n)
    )
    gram = F.array_join(F.slice(F.col("toks"), F.col("i") + 1, n), " ")
    grams = (
        d.withColumn("i", F.explode(F.sequence(F.lit(0), F.col("n_toks") - n)))
        .select("doc_id", "dom", gram.alias("gram"))
        .distinct()
    )
    dom_docs = docs.groupBy(F.col(domain_col).alias("dom")).agg(
        F.count("*").cast("long").alias("dom_docs"))
    gram_docs = grams.groupBy("dom", "gram").agg(
        F.count("*").cast("long").alias("in_docs"))
    boiler = (
        gram_docs.join(dom_docs, "dom")
        .filter(
            (F.col("in_docs") >= min_docs)
            & (F.col("in_docs") * F.lit(1_000_000)
               >= F.col("dom_docs") * F.lit(int(thresh_ppm)))
        )
        .select("dom", "gram")
    )
    # one left join against the (small, broadcast) flag table, then ONE
    # doc-keyed aggregation computes both totals — a separate
    # flagged-grams groupBy would pay a second doc_id exchange
    per_doc = (
        grams.join(boiler.withColumn("is_b", F.lit(1)), ["dom", "gram"],
                   "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce("is_b", F.lit(0))).cast("long")
            .alias("n_boiler"),
        )
    )
    spine = docs.select(F.col(id_col).alias("doc_id"))
    return (
        spine.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0).cast("long")).alias("n_boiler"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0L) > 0 THEN "
                "(coalesce(n_boiler, 0L) * 1000000L) div n_grams "
                "ELSE 0L END"
            ).cast("long").alias("boiler_ppm"),
        )
    )


ANCHOR_RE = r'href="([^"]*)"[^>]*>([^<]*)</a>'


def anchor_text_stats(pages: DataFrame, src_url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """Incoming anchor-text aggregation per TARGET domain — the classic
    webgraph retrieval/quality signal (what the rest of the web calls a
    site): ``(dst_domain, n_anchors, n_distinct_anchors, top_anchor,
    top_anchor_cnt)``.

    Extraction is scan-stage: ONE conservative regex captures href and
    anchor body together, pulled twice with ``regexp_extract_all`` group
    1 / group 2 and re-paired with ``arrays_zip`` (both engines run the
    identical RE; anchors are trimmed + lower-cased). Only absolute
    target URLs qualify (same rule as :func:`domain_link_graph`) and
    empty anchors are dropped.

    Scale shape: one (domain, anchor) map-side-combined count aggregate
    over the link stream, then a domain-keyed top-1 window the optimizer
    runs as WindowGroupLimit (no full sort of the anchor table) fused
    with the per-domain totals — the second exchange is vocab-sized
    (distinct anchors), never link-stream-sized.
    """
    from pyspark.sql import Window

    links = (
        pages.select(
            F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_RE), 1)
            .alias("u"),
            F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_RE), 2)
            .alias("t"),
        )
        .select(F.explode(F.arrays_zip("u", "t")).alias("p"))
        .select(
            F.col("p.u").alias("dst_url"),
            F.lower(F.trim(F.col("p.t"))).alias("anchor"),
        )
        .filter(F.col("dst_url").rlike(_SCHEME_RE)
                & (F.length("anchor") > 0))
    )
    per = (
        links.select(
            registrable_domain(F.col("dst_url")).alias("dst_domain"),
            "anchor",
        )
        .groupBy("dst_domain", "anchor")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("dst_domain").orderBy(
        F.desc("cnt"), F.asc("anchor"))
    return (
        per.withColumn("rn", F.row_number().over(w))
        .groupBy("dst_domain")
        .agg(
            F.sum("cnt").cast("long").alias("n_anchors"),
            F.count("*").cast("long").alias("n_distinct_anchors"),
            F.max(F.when(F.col("rn") == 1, F.col("anchor")))
            .alias("top_anchor"),
            F.max(F.when(F.col("rn") == 1, F.col("cnt"))).cast("long")
            .alias("top_anchor_cnt"),
        )
    )


def scd2_history(pages: DataFrame, key_col: str = "url_norm",
                 ts_col: str = "crawl_ts",
                 id_col: str = "doc_id") -> DataFrame:
    """Slowly-changing-dimension (type 2) recrawl history: every fetch of
    a canonical URL becomes a VERSIONED row with a validity interval —
    ``(id, key, valid_from, valid_to, version, is_current)`` where
    ``valid_to`` is the next fetch's timestamp (null while current) and
    ``version`` counts from 1 in (ts, id) order.

    This is the warehouse-side complement of ``keep_latest``: keep_latest
    answers "what is the page now", the SCD-2 table answers "what did the
    crawler believe at time T" (point-in-time joins via
    ``valid_from <= T < valid_to`` — the ``asof_join`` input shape).

    ONE shuffle: the per-key window; partitions are recrawl-sized (the
    handful of fetches per URL), never corpus-sized.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    return pages.select(
        F.col(id_col), F.col(key_col),
        F.col(ts_col).cast("long").alias("valid_from"),
        F.lead(F.col(ts_col).cast("long")).over(w).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
        F.when(F.lead(F.col(ts_col)).over(w).isNull(), 1).otherwise(0)
        .cast("int").alias("is_current"),
    )


def path_prefix_stats(
    urls: DataFrame,
    max_depth: int = 4,
    host_col: str = "host",
    path_col: str = "path",
    weight_col: str | None = None,
) -> DataFrame:
    """Sitemap-tree rollup (crawl budgeting / site structure): page and
    optional weight totals at EVERY path-segment prefix of every URL up
    to ``max_depth`` — ``(host, prefix, depth, n_pages[, weight_sum])``,
    e.g. /docs -> /docs/api -> /docs/api/v2 counts at each level.

    Scale shape: prefixes come from the same anchored-regex chain as
    ``robots_match`` (pure codegen, no HOF trap), the posexplode emits at
    most ``max_depth`` rows per page, and ONE map-side-combined hash
    aggregate reduces to the prefix-tree-sized output — no joins, no
    windows.
    """
    prefs = F.array(*[
        F.regexp_extract(F.col(path_col), "^((?:/[^/]*){%d})" % k, 1)
        for k in range(1, max_depth + 1)
    ])
    w = (F.col(weight_col).cast("long") if weight_col is not None
         else F.lit(1).cast("long"))
    e = urls.select(
        F.col(host_col).alias("host"), w.alias("_w"),
        F.posexplode(prefs).alias("_k", "prefix"),
    ).filter(F.col("prefix") != "")
    aggs = [F.count("*").cast("long").alias("n_pages")]
    if weight_col is not None:
        aggs.append(F.sum("_w").cast("long").alias("weight_sum"))
    return (
        e.groupBy("host", "prefix",
                  (F.col("_k") + 1).cast("int").alias("depth"))
        .agg(*aggs)
    )


def robots_match(
    urls: DataFrame,
    rules: DataFrame,
    max_depth: int = 8,
    id_col: str = "doc_id",
    host_col: str = "host",
    path_col: str = "path",
    prefix_col: str = "prefix",
    allow_col: str = "allow",
) -> DataFrame:
    """Longest-prefix robots-rule matching (the robots.txt decision,
    Google semantics): each URL is governed by the LONGEST rule prefix
    that matches its path on the same host; on equal length an allow
    rule beats a disallow; URLs with no matching rule are allowed.

    Rules prefixes are path-segment prefixes plus the universal ``/``
    (the practical robots subset).  The corpus side never theta-joins against rules: each URL
    explodes its at-most ``max_depth`` segment-boundary prefixes (a flat
    chain of anchored regexp_extracts — pure codegen, no HOF-trap) and
    equi-joins the broadcast rule table on (host, prefix); the winner is
    ONE max-struct aggregate (longest, then allow); unmatched URLs come
    back via the id-keyed left join, which reuses the aggregate's
    partitioning on the match side.

    Deterministic: two matched prefixes of one path with equal length are
    the SAME string, so (length, allow) orders totally per URL.
    """
    prefs = [
        F.regexp_extract(F.col(path_col), "^((?:/[^/]*){%d})" % k, 1)
        for k in range(1, max_depth + 1)
    ]
    # "/" is the universal robots prefix (Disallow: /) — every path is
    # governed by it, so it is always a candidate.
    prefixes = F.array_distinct(
        F.filter(F.concat(F.array(F.lit("/")), F.array(*prefs)),
                 lambda x: x != F.lit("")))
    cand = urls.select(
        F.col(id_col).alias("_u_id"), F.col(host_col).alias("_u_host"),
        F.explode(prefixes).alias("_u_pfx"))
    r = rules.select(
        F.col(host_col).alias("_r_host"),
        F.col(prefix_col).alias("_r_pfx"),
        F.col(allow_col).cast("int").alias("_r_allow"))
    winner = (
        cand.join(
            F.broadcast(r),
            (F.col("_u_host") == F.col("_r_host"))
            & (F.col("_u_pfx") == F.col("_r_pfx")))
        .groupBy("_u_id")
        .agg(F.max(F.struct(
            F.length("_r_pfx").alias("l"),
            F.col("_r_allow").alias("a"),
            F.col("_r_pfx").alias("p"))).alias("w"))
    )
    return (
        urls.join(winner, urls[id_col] == winner["_u_id"], "left")
        .select(
            id_col, host_col, path_col,
            F.col("w.p").alias("matched_prefix"),
            F.when(F.col("w").isNull(), F.lit(True))
            .otherwise(F.col("w.a") == 1).alias("allowed"),
        )
    )


def resolve_redirects(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Resolve HTTP-redirect / rel=canonical chains to their terminal
    target by POINTER DOUBLING: after round k every pointer has jumped
    2^k hops, so ``rounds`` rounds resolve chains up to 2^rounds links —
    O(log chain) corpus-sized equi-joins instead of O(chain) (the
    chain-walk join is the naive plan; real redirect chains are short,
    but a 100 TB crawl's *longest* chain sets the round count, and
    doubling makes 65k-hop pathologies cost 16 rounds).

    One redirect per source is enforced deterministically (min dst).
    Returns ``(src, final, resolved)``: ``resolved`` false iff ``final``
    still has an outgoing redirect after 2^rounds hops — i.e. the chain
    is longer than the bound or ends in a CYCLE (a cycle can never
    resolve, at any bound; the planted-cycle test pins this).

    Exactness contract: with the pointer function extended as identity
    on terminals, doubling composes exactly — f_{k+1} = f_k ∘ f_k — so
    the result equals 2^rounds SINGLE steps and the oracle replays it
    with a depth-capped recursive walk.

    Scale shape: each round is one self equi-join of the pointer table.
    Every round reads the previous table twice, so the table is a round
    checkpoint (``_util.checkpoint_rows``, the graph module's policy):
    round N plans against a flat scan, never the nested history.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    f, _ = checkpoint_rows(
        edges.groupBy(F.col(src_col).alias("node"))
        .agg(F.min(F.col(dst_col)).alias("ptr"))
        .repartition("node"))
    for _ in range(rounds):
        g = f.select(F.col("node").alias("g_node"),
                     F.col("ptr").alias("g_ptr"))
        f, _ = checkpoint_rows(
            f.join(g, f["ptr"] == g["g_node"], "left")
            .select("node", F.coalesce("g_ptr", "ptr").alias("ptr")))
    srcs = f.select(F.col("node").alias("s")).distinct()
    return f.join(srcs, f["ptr"] == srcs["s"], "left").select(
        F.col("node").alias("src"),
        F.col("ptr").alias("final"),
        F.col("s").isNull().alias("resolved"),
    )


def mirror_candidates(
    docs: DataFrame,
    host_col: str = "host",
    fp_col: str = "fp",
    min_shared: int = 2,
    max_fp_hosts: int = 20,
) -> DataFrame:
    """Mirrored-host detection: host pairs whose CONTENT overlaps —
    the crawl-dedup signal that kills whole mirror sites (ftp.X.org vs
    www.X.org, country mirrors, scraper clones) instead of deduping
    page-by-page.

    Input: one row per (host, content fingerprint).  Hosts sharing
    >= ``min_shared`` distinct fingerprints emit
    ``(host_a, host_b, shared, n_a, n_b, jaccard_ppm)`` with
    ``jaccard_ppm = shared * 1e6 div (n_a + n_b - shared)`` over each
    host's distinct-fingerprint set.

    Fingerprints on more than ``max_fp_hosts`` hosts are dropped BEFORE
    pairing (boilerplate/empty-page content carried by everyone) — the
    standard prefix-filter move that bounds the self-join fan-out at
    ``max_fp_hosts^2`` per fingerprint, so the pair stage is linear in
    the fingerprint table, never quadratic in hosts.  Deterministic:
    the prune is a pure function of the data, and both host sizes count
    ALL fingerprints (pruned ones included), so the Jaccard denominator
    is the true site size.

    Scale shape: one distinct, one fingerprint-cardinality aggregate,
    one bounded self equi-join on the fingerprint key, two broadcast-
    sized host-size joins.
    """
    hf = docs.select(F.col(host_col).alias("h"),
                     F.col(fp_col).alias("f")).distinct()
    sizes = hf.groupBy("h").agg(F.count("*").cast("long").alias("n"))
    keep = (
        hf.groupBy("f").agg(F.count("*").alias("nh"))
        .filter((F.col("nh") >= 2) & (F.col("nh") <= int(max_fp_hosts)))
        .select("f")
    )
    pf = hf.join(keep, on="f", how="left_semi")
    a = pf.select(F.col("f"), F.col("h").alias("host_a"))
    b = pf.select(F.col("f"), F.col("h").alias("host_b"))
    shared = (
        a.join(b, on="f")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= int(min_shared))
    )
    na = sizes.select(F.col("h").alias("host_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("h").alias("host_b"), F.col("n").alias("n_b"))
    return (
        shared.join(na, "host_a").join(nb, "host_b")
        .select(
            "host_a", "host_b", "shared", "n_a", "n_b",
            F.expr("div(shared * 1000000, n_a + n_b - shared)")
            .cast("long").alias("jaccard_ppm"),
        )
    )


def crawl_schedule(
    urls: DataFrame,
    n_workers: int = 16,
    base_delay_ms: int = 500,
    url_col: str = "url_id",
    host_col: str = "host",
) -> DataFrame:
    """Politeness-aware crawl scheduling: assign every frontier URL a
    worker and a fetch slot such that (a) each host is fetched by
    EXACTLY ONE worker (politeness needs per-host serialization — two
    workers can't coordinate a shared delay), and (b) consecutive
    fetches of a host are ``delay_ms`` apart.

    ``worker = md5('wk:' host) % n_workers`` (rendezvous-style host
    affinity: adding hosts never reshuffles existing ones);
    ``delay_ms = base + (md5('cd:' host) % 8) * 250`` (a deterministic
    stand-in for per-host robots crawl-delay; pass a real column at
    integration time by pre-joining and renaming); ``slot_ms =
    (rank-1) * delay_ms`` with rank ordered by ``(url_id)`` per host.

    Scale shape: one hash exchange by host + one rank window; the md5
    expressions are scan-stage codegen.  Host skew (one giant site) is
    inherent to the DOMAIN (that host really is one serialized queue) —
    the window stays O(that host's frontier) and everything else
    parallelizes.
    """
    from pyspark.sql import Window

    def md5mod(prefix, mod):
        return F.pmod(
            F.conv(F.substring(F.md5(F.concat(
                F.lit(prefix), F.col(host_col))), 1, 8), 16, 10)
            .cast("long"),
            F.lit(int(mod)))

    w = Window.partitionBy(host_col).orderBy(F.asc(url_col))
    return urls.select(
        url_col, host_col,
        md5mod("wk:", n_workers).cast("int").alias("worker"),
        (F.lit(int(base_delay_ms)) + md5mod("cd:", 8) * 250)
        .cast("long").alias("delay_ms"),
    ).withColumn(
        "slot_ms",
        ((F.row_number().over(w) - 1) * F.col("delay_ms")).cast("long"),
    )


def url_templates(
    pages: DataFrame,
    url_col: str = "url",
    top_k: int = 5,
) -> DataFrame:
    """Structural URL templating — the crawl-frontier/site-map read that
    collapses ``/article/482/view`` and ``/article/9171/view`` into one
    pattern: per host, mask every digit run in the path with ``{n}``
    and rank the resulting templates by page count.  Output, the top
    ``top_k`` templates per host:

        host         lowercased, ``www.`` and port stripped
        template     query-stripped path with ``[0-9]+ -> {n}``
                     (``'/'`` when the URL has no path)
        n_pages      rows carrying the template
        n_urls       DISTINCT urls carrying it (recrawl-dedup)
        share_ppm    floor(1e6 * n_pages / host pages)  (pre-cut total)
        rnk          1-based rank within host (pages DESC, template ASC)

    Hex/uuid ids with letters do NOT mask (documented: digit runs only
    — locale-free, engine-portable regex).

    Scale shape: the corpus collapses in ONE map-side-combined
    (host, template, url) aggregate (the exact-distinct two-level
    spelling — never countDistinct over raw rows), then a
    (host, template) rollup; the host-total window and the rank window
    share the template table's hashpartitioning(host) exchange, and the
    top-k filter is a WindowGroupLimit.  No python, no cross join.
    """
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError("need top_k >= 1")
    _, host, _, pathq = url_parts(F.col(url_col))
    host_n = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(pathq, r"\?.*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    tpl = F.regexp_replace(path, "[0-9]+", "{n}")
    per_url = (
        pages.select(host_n.alias("host"), tpl.alias("template"),
                     F.col(url_col).alias("_u"))
        .groupBy("host", "template", "_u")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    per_tpl = per_url.groupBy("host", "template").agg(
        F.sum("_n").cast("long").alias("n_pages"),
        F.count("*").cast("long").alias("n_urls"),
    )
    wh = Window.partitionBy("host")
    wr = Window.partitionBy("host").orderBy(
        F.col("n_pages").desc(), F.col("template").asc())
    return (
        per_tpl.select(
            "host", "template", "n_pages", "n_urls",
            F.sum("n_pages").over(wh).cast("long").alias("_tot"),
            F.row_number().over(wr).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= int(top_k))
        .select(
            "host", "template", "n_pages", "n_urls",
            F.expr("cast(div(cast(n_pages as decimal(38,0)) * 1000000,"
                   " _tot) as bigint)").alias("share_ppm"),
            "rnk",
        )
    )
