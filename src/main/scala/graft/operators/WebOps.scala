package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower

/** URL / domain operators for web-crawl-style corpora: host extraction,
  * registrable-domain derivation, and blocklist filtering — the provenance
  * layer every Common-Crawl-derived training set runs before anything else
  * (per-domain quotas, spam-domain removal, license tracking).
  *
  * Everything here is a narrow codegen'd projection (three RE2-safe regexes,
  * one split/slice) plus, for the blocklist, one broadcast anti join — so
  * the operators are scan-speed and the blocklist never forces a shuffle of
  * the corpus. The regexes avoid backtracking-dependent constructs so the
  * DuckDB oracle can apply the byte-identical patterns.
  */
object WebOps {

  /** scheme://authority — authority runs to the first `/`, `?` or `#`. */
  val AuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
  /** Strips a `user:pass@` prefix from an authority (keep the last `@`-part). */
  val NoUserinfoRe = "([^@]*)$"
  /** Strips a `:port` suffix from a host. A bracketed IPv6 authority
    * (`[::1]:8443`) keeps its bracketed literal whole — the colons inside
    * the brackets are address, not port. An unclosed `[` matches neither
    * alternative and routes to empty like any other unparseable URL.
    */
  val NoPortRe = "^(\\[[^\\]]*\\]|[^:\\[][^:]*)"

  /** Lower-cased host of a URL: the authority minus userinfo and port.
    * Empty string when the value does not parse as an absolute URL —
    * callers filter or route those rows rather than failing the scan.
    */
  def host(url: Column): Column = {
    val auth = regexp_extract(url, AuthorityRe, 1)
    lower(regexp_extract(regexp_extract(auth, NoUserinfoRe, 1), NoPortRe, 1))
  }

  /** Registrable-domain approximation: the last two dot-labels of the host
    * (`www.news.example.org` → `example.org`). A full public-suffix-list
    * lookup is a broadcast join against the PSL table if one is supplied;
    * the 2-label rule is the offline-safe default and what per-domain
    * quota/blocklist policies key on in practice.
    */
  def registrableDomain(url: Column): Column = {
    val h = host(url)
    val labels = split(h, "\\.")
    when(size(labels) >= 2, array_join(slice(labels, -2, 2), ".")).otherwise(h)
  }

  /** Drops every row whose registrable domain appears in `blocked` (one
    * string column named `domain`). The blocklist is dimension-sized by
    * definition (it is a policy artifact, not data), so it broadcasts and
    * the corpus never shuffles.
    */
  def blocklistFilter(df: DataFrame, urlCol: Column, blocked: DataFrame): DataFrame = {
    val b = blocked.select(lower(col("domain")).as("__blocked_domain")).distinct()
    df.withColumn("__dom", registrableDomain(urlCol))
      .join(broadcast(b), col("__dom") === col("__blocked_domain"), "left_anti")
      .drop("__dom")
  }

  /** Tracking query parameters dropped by [[canonicalizeUrl]]: the analytics
    * attribution keys that make one target page look like thousands of
    * distinct URLs in a crawl frontier. Applied to the `&`-prefixed QUERY
    * substring only — never the path, where a literal `&` is legal and must
    * survive canonicalization byte-for-byte.
    */
  val TrackingParamRe = "&(utm_[a-z0-9_]*|gclid|fbclid|ref)=[^&]*"

  /** Canonical form of an absolute URL — the dedup key for crawl frontiers
    * and URL-level corpus dedup (the step before any content dedup runs:
    * refetching `HTTPS://WWW.Example.org:443/p/1?utm_source=x` next to
    * `https://example.org/p/1` wastes the crawler AND double-counts the
    * page). Null when the value does not parse as an absolute URL.
    *
    * Rules (each a codegen'd regex step, RE2-safe — no lookaround, no
    * backtracking-dependent constructs — so the DuckDB oracle applies the
    * byte-identical patterns):
    *   - scheme and host lowercase; `www.` prefix and userinfo drop
    *   - default ports drop (`:80` for http, `:443` for https); real ports
    *     stay; a NON-NUMERIC `:port` suffix is authority junk and drops
    *     with the rest of the garbage (the host survives)
    *   - fragment drops; tracking params ([[TrackingParamRe]]) drop from the
    *     query (path bytes are never rewritten); an emptied query drops
    *   - a bare `/` path with no query drops (`example.org/` ≡ `example.org`)
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val h = regexp_replace(host(url), "^www\\.", "")
    // port survives only when non-default for the scheme
    val auth = regexp_extract(url, AuthorityRe, 1)
    val port = regexp_extract(regexp_extract(auth, NoUserinfoRe, 1), ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    // path?query with the fragment excluded at extraction ([^#]*), then
    // split at the FIRST '?': the query is cleaned in '&'-normalized form
    // (every param '&'-prefixed, so one pattern hits first/middle/last
    // position), the path is never touched.
    val rest0 = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val path0 = regexp_extract(rest0, "^([^?]*)", 1)
    val query0 = regexp_extract(rest0, "\\?(.*)$", 1)
    val q = regexp_replace(
      regexp_replace(concat(lit("&"), query0), TrackingParamRe, ""), "^&", "")
    val qPart = when(q === "", lit("")).otherwise(concat(lit("?"), q))
    val pathPart = when(path0 === "/" && q === "", lit("")).otherwise(path0)
    when(scheme === "" || h === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), h,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")), pathPart, qPart))
  }

  /** Adds `canonical_url` + `url_survivor` (true on the single row per
    * canonical form with the smallest `idCol` — first-wins, deterministic).
    * One hash aggregation on the canonical string + an equi-join back; no
    * window over the corpus. Unparseable URLs (null canonical) are their own
    * survivors — dropping them is a policy choice left to the caller.
    */
  def dedupByCanonicalUrl(df: DataFrame, urlCol: Column, idCol: Column): DataFrame = {
    val withCanon = df.withColumn("canonical_url", canonicalizeUrl(urlCol))
    val keepers = withCanon.filter(col("canonical_url").isNotNull)
      .groupBy(col("canonical_url").as("__cu"))
      .agg(min(idCol).as("__keeper"))
    withCanon
      .join(keepers, col("canonical_url") <=> col("__cu"), "left")
      .withColumn("url_survivor", col("__keeper").isNull || idCol === col("__keeper"))
      .drop("__cu", "__keeper")
  }

  /** Per-domain corpus profile: document count and char-volume share —
    * the first report a crawl-derived dataset publishes, and the input to
    * domain-quota sampling ([[Sampling.perGroup]] keyed on the domain).
    * One partial-aggregated groupBy on the domain; nothing else.
    */
  def domainStats(df: DataFrame, urlCol: Column, sizeCol: Column): DataFrame =
    df.groupBy(registrableDomain(urlCol).as("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(sizeCol.cast("bigint")).as("total_chars"))

  /** Crawl-frontier POLITENESS scheduling: assign every pending URL a fetch
    * round such that no round hits one registrable domain more than
    * `perRound` times — the frontier-side enforcement of crawl-delay.
    * Within a domain, higher priority fetches first; the unique id breaks
    * ties so the schedule is total and rerun-stable.
    *
    * `round = (rank - 1) div perRound` with rank = row_number per domain:
    * one keyed window (partitions are domain-bounded — exactly the
    * distribution a frontier has, and a mega-domain's window is a sort of
    * ITS OWN urls only, never a global sort). Returns the input plus
    * `domain` and `fetch_round`.
    */
  def politenessRounds(df: DataFrame, urlCol: Column, priorityCol: Column,
      idCol: Column, perRound: Int): DataFrame = {
    require(perRound >= 1, s"perRound must be >= 1, got $perRound")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(registrableDomain(urlCol))
      .orderBy(priorityCol.desc, idCol)
    df.withColumn("domain", registrableDomain(urlCol))
      .withColumn("fetch_round",
        call_function("div", row_number().over(w).cast("bigint") - 1,
          lit(perRound.toLong)))
  }

  /** href targets of an HTML column, in document order. One RE2/Java-
    * identical pattern (oracle parity): any-case `href`, either quote
    * style, target up to the closing quote; fragment-only links (`#...`)
    * never match because the capture class excludes `#` and is non-empty.
    * A full HTML parser adds entity decoding and base-URL resolution —
    * out of scope for the extraction shape, which is what scales: a
    * codegen'd projection, no UDF, no parse tree.
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html,
      lit("(?i)href\\s*=\\s*[\"']([^\"'#\\s]+)"), lit(1))

  /** The crawl link table: (id, pos, url, url_host) per extracted link —
    * the edge builder feeding [[graft.operators.PageRank]] / HITS (group
    * by (host(page), url_host) for the host graph). Pure Generate over a
    * projection; order within a page is the document order.
    */
  def linkEdges(df: DataFrame, idCol: Column, htmlCol: Column): DataFrame =
    df.select(idCol.as("id"), posexplode(extractLinks(htmlCol)).as(Seq("pos", "url")))
      .select(col("id"), col("pos").cast("bigint").as("pos"), col("url"),
        host(col("url")).as("url_host"))

  /** Complete `<a href=...>text</a>` elements: both capture groups of one
    * pattern (RE2/Java-identical), extracted twice and zipped positionally
    * — the two lists are equal-length by construction because they come
    * from the same match set. Anchors with nested markup inside the text
    * ([^<]*) or fragment-only hrefs do not match.
    */
  val AnchorPattern: String =
    "(?i)<a\\b[^>]*href\\s*=\\s*[\"']([^\"'#\\s]+)[\"'][^>]*>([^<]*)</a"

  /** UTF-8 text of an HTTP response body inside a WARC `response` payload:
    * everything after the first CRLFCRLF, or the whole payload when no
    * HTTP head is present — the column-level (codegen'd) twin of
    * `WarcSource.httpBody`, for link/anchor extraction pipelines that stay
    * in Catalyst instead of dropping to a typed map.
    */
  def httpBodyText(payload: Column): Column = {
    val s = decode(payload, "UTF-8")
    val i = instr(s, "\r\n\r\n")
    when(i > 0, s.substr(i + 4, length(s))).otherwise(s)
  }

  /** The anchor-text corpus: (id, pos, url, anchor) per complete link —
    * anchor text is the classic relevance/label signal for the TARGET page
    * (the anchor-text training sets behind early web ranking); a groupBy
    * (canonical url) + concat of anchors builds each page's incoming
    * description. Codegen'd projection + Generate, document order.
    */
  def linkAnchors(df: DataFrame, idCol: Column, htmlCol: Column): DataFrame =
    df.select(idCol.as("id"), arrays_zip(
        regexp_extract_all(htmlCol, lit(AnchorPattern), lit(1)).as("url"),
        regexp_extract_all(htmlCol, lit(AnchorPattern), lit(2)).as("anchor")).as("__as"))
      .select(col("id"), posexplode(col("__as")).as(Seq("pos", "__a")))
      .select(col("id"), col("pos").cast("bigint").as("pos"),
        col("__a.url").as("url"), col("__a.anchor").as("anchor"))

  /** Recrawl prioritization from fetch history: for each URL, how often has
    * its content actually changed, and how stale is it now? `priority =
    * (n_versions - 1) * (asOfTs - last_ts)` — URLs whose content never
    * changed across their fetches score 0 regardless of age (the crawl-ops
    * heuristic behind change-rate-proportional revisit policies; with a
    * uniform fetch count the product IS rate x staleness), in exact BIGINT
    * arithmetic with no float rate.
    *
    * Scale shape: ONE hash aggregation over (url) — count, count distinct
    * hash and max(ts) all partial-aggregate map-side; no window, no join.
    * `asOfTs` is a caller-passed instant so runs are reproducible (never a
    * wall clock read inside the plan).
    *
    * Output: (url, n_fetches, n_versions, last_ts, priority).
    */
  def recrawlPriority(history: DataFrame, urlCol: Column, tsCol: Column,
      hashCol: Column, asOfTs: Long): DataFrame =
    history
      .groupBy(urlCol.as("url"))
      .agg(
        count(lit(1)).as("n_fetches"),
        countDistinct(hashCol).as("n_versions"),
        max(tsCol.cast("bigint")).as("last_ts"))
      .select(col("url"), col("n_fetches"), col("n_versions"), col("last_ts"),
        ((col("n_versions") - 1L) * (lit(asOfTs) - col("last_ts"))).as("priority"))

  /** Largest-remainder (Hamilton) crawl-budget allocation: split an integer
    * fetch budget over domains proportionally to a weight column so that
    * the shares are integers, sum EXACTLY to the budget, and the rounding
    * error lands on the domains with the largest remainders (deterministic
    * domain-name tiebreak). The weight is whatever the planner trusts —
    * t95's quality priors, content mass, distinct-URL counts — but must be
    * NON-NEGATIVE: the integral-div floor truncates toward zero, so a
    * negative aggregate weight would break the floor <= exact-share
    * invariant the method rests on.
    *
    * Arithmetic is DECIMAL(38,0) products and exact integer div/mod
    * (budget x weight never rides a double), so a 100 TB weight table
    * cannot overflow or drift. Scale shape: one aggregation to the
    * (bounded) domain table, one scalar total, one window over that
    * bounded table for the remainder ranking — never over the corpus.
    *
    * Output: (domain, weight, share) with sum(share) == totalBudget
    * (all-zero weights allocate nothing).
    */
  def allocateBudget(weights: DataFrame, domainCol: Column, weightCol: Column,
      totalBudget: Long): DataFrame = {
    require(totalBudget >= 0, s"budget must be non-negative, got $totalBudget")
    val w = weights.groupBy(domainCol.as("domain"))
      .agg(sum(weightCol.cast("decimal(38,0)")).as("w"))
    val tot = w.agg(sum(col("w")).as("__tot"))
    val scored = w.crossJoin(broadcast(tot))
      .where(col("__tot") > 0)
      .withColumn("__prod", col("w") * lit(totalBudget).cast("decimal(38,0)"))
      // integral `div` floors exactly (weights are non-negative); the
      // quotient is bounded by the budget, so it fits the operator's LONG
      .withColumn("__floor", expr("__prod div __tot"))
      .withColumn("__rem",
        col("__prod") - col("__floor").cast("decimal(38,0)") * col("__tot"))
    // leftover = budget - sum(floors): hand one extra fetch to the largest
    // remainders; the window runs over the bounded domain table only
    val leftover = scored.agg(
      (lit(totalBudget) - sum(col("__floor"))).cast("bigint").as("__left"))
    val rk = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("domain").asc)
    scored.crossJoin(broadcast(leftover))
      .withColumn("__rk", row_number().over(rk))
      .select(col("domain"), col("w").as("weight"),
        (col("__floor") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .cast("bigint").as("share"))
  }
}
