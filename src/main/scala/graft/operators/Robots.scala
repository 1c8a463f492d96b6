package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower

/** robots.txt parsing and URL admission — the politeness companion to
  * [[WebOps.politenessRounds]]: a crawler that schedules fetches also has
  * to DECIDE each fetch against the host's robots.txt.
  *
  * Grammar (REP, RFC 9309): `field: value` lines, `#` comments, groups of
  * one or more consecutive `User-agent` lines followed by `Allow`/
  * `Disallow` rules; a User-agent line that follows a rule line starts a
  * NEW group (consecutive agent lines share the group). Decision: among
  * the rules of the most specific matching agent section (exact agent
  * beats `*`), the LONGEST matching path prefix wins, and Allow beats
  * Disallow on equal length (the Google tiebreak); no matching rule means
  * allowed.
  *
  * Everything is relational: line explode → gaps-and-islands group ids
  * (one per-doc window over line position — partitions are bounded by
  * robots-file length, never corpus size) → an agents×rules equi-join on
  * (doc, group). The decision is a prefix equi-... no: prefix matching is
  * a `startsWith` theta-join, BLOCKED on host so each URL only meets its
  * own host's rules — the join key is the host, the prefix test is a
  * residual filter, and rule tables are tiny by nature (policy artifacts).
  */
object Robots {

  /** Parse robots.txt bodies into (id, group, agent, directive, path,
    * rule_order) rows. `directive` is `allow`/`disallow`; empty-path
    * Disallow (allow-all idiom) is kept with path = "" (matches everything
    * at length 0, so any longer rule beats it). Unknown fields
    * (crawl-delay, sitemap, ...) are ignored for admission. Lines are
    * split on LF, CRLF, or bare CR (real-world robots.txt is very often
    * CRLF; Spark's `trim` strips only 0x20, so the CR must go at the
    * split), and field/value whitespace includes tabs per RFC 9309 WS.
    */
  def parseRules(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val lines = df
      .select(idCol.as("id"),
        posexplode(split(textCol, "\r\n|\r|\n")).as(Seq("pos", "__raw")))
      // strip comments, then surrounding spaces/tabs
      .withColumn("__line",
        regexp_replace(regexp_replace(col("__raw"), "[#].*$", ""),
          "^[ \\t]+|[ \\t]+$", ""))
      .where(length(col("__line")) > 0)
      .withColumn("__field", lower(trim(substring_index(col("__line"), ":", 1))))
      .withColumn("__value", regexp_replace(
        expr("substring(__line, instr(__line, ':') + 1)"),
        "^[ \\t]+|[ \\t]+$", ""))
      .where(col("__field").isin("user-agent", "allow", "disallow") &&
        instr(col("__line"), ":") > 0)
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val grouped = lines
      .withColumn("__is_ua", (col("__field") === "user-agent").cast("int"))
      // a UA line opens a NEW group iff the previous kept line was a rule
      .withColumn("__new_group",
        when(col("__is_ua") === 1 &&
          coalesce(lag(col("__is_ua"), 1).over(w), lit(0)) === 0, 1).otherwise(0))
      .withColumn("group",
        sum(col("__new_group")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val agents = grouped.where(col("__is_ua") === 1)
      .select(col("id"), col("group"), lower(col("__value")).as("agent"))
    val rules = grouped.where(col("__is_ua") === 0)
      .select(col("id"), col("group"), col("__field").as("directive"),
        col("__value").as("path"), col("pos").as("rule_order"))
    agents.join(rules, Seq("id", "group"))
      .select(col("id"), col("group"), col("agent"), col("directive"),
        col("path"), col("rule_order"))
  }

  /** Admission decision for URLs against a parsed rule table keyed by
    * host: allowed iff the winning rule (longest matching rule, Allow
    * over Disallow on equal length) is not a Disallow. RFC 9309 section
    * selection: if an exact-agent section exists for the host, ONLY its
    * rules apply (the `*` section is shadowed, not unioned); hosts with no
    * applicable section, and empty-path rules ("Disallow:" = disallow
    * nothing), admit everything. Rule paths support the RFC 9309 §2.2.3
    * special characters: `*` matches any character run and a TRAILING `$`
    * anchors the end of the URL path (a `$` anywhere else is literal —
    * the common engine behavior; mid-pattern `$` has no portable meaning).
    * Plain prefixes take the codegen'd `startsWith` fast path; only rules
    * that actually carry `*`/`$` pay the regex residual. "Longest" is the
    * rule's octet length including special characters, the de-facto
    * tiebreak order. `rules` must carry (host, agent, directive, path) —
    * parseRules output over per-host robots bodies with the host as `id`,
    * renamed. Cardinality-preserving for ANY input: the decision window
    * keys on a generated per-row id, so byte-identical duplicate input
    * rows each produce their own output row.
    */
  def isAllowed(urls: DataFrame, urlCol: Column, agent: String,
      rules: DataFrame): DataFrame = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val path = regexp_replace(urlCol, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", "")
    val u = urls
      .withColumn("__rowid", monotonically_increasing_id())
      .withColumn("__host", WebOps.host(urlCol))
      .withColumn("__path", when(length(path) === 0, lit("/")).otherwise(path))
    // effective section per host: exact-agent rules where such a section
    // exists, the * section elsewhere (left_anti on the exact-host list —
    // both sides are policy-sized, the corpus never shuffles for this)
    val exactHosts = rules.where(col("agent") === agentLc)
      .select(col("host").as("__eh")).distinct()
    // wildcard rules compile to anchored regexes: literal chars quoted,
    // `*` -> `.*`, trailing `$` -> end anchor; prefix-only rules keep
    // __rregex null and match via startsWith (no per-row Pattern compile)
    val hasWild = col("path").contains("*") || col("path").endsWith("$")
    val body = when(col("path").endsWith("$"),
        expr("substring(path, 1, length(path) - 1)")).otherwise(col("path"))
    val rx = concat(lit("^"),
      regexp_replace(regexp_replace(body,
        "[\\\\.\\[\\]{}()^$|?+]", "\\\\$0"), "\\*", ".*"),
      when(col("path").endsWith("$"), lit("$")).otherwise(lit("")))
    val eff = rules.where(col("agent") === agentLc)
      .unionByName(rules.where(col("agent") === "*")
        .join(exactHosts, col("host") === col("__eh"), "left_anti"))
      .where(length(col("path")) > 0) // empty-path rules match nothing
      .select(col("host").as("__rhost"), col("directive").as("__rdir"),
        col("path").as("__rpath"),
        when(hasWild, rx).as("__rregex"))
    val matches = when(col("__rregex").isNotNull,
      expr("rlike(__path, __rregex)")
    ).otherwise(col("__path").startsWith(col("__rpath")))
    val joined = u.join(eff, u("__host") === eff("__rhost") && matches, "left")
    // one decision PER INPUT ROW, keyed on the generated id — duplicate
    // rows (same values in every caller column) stay distinct
    val spec = Window.partitionBy(col("__rowid"))
      .orderBy(length(col("__rpath")).desc,
        when(col("__rdir") === "allow", 0).otherwise(1))
    joined
      .withColumn("__rn", row_number().over(spec))
      .where(col("__rn") === 1)
      .withColumn("allowed", col("__rdir").isNull || col("__rdir") === "allow")
      .drop("__rhost", "__rdir", "__rpath", "__rregex", "__rn", "__rowid")
  }

  /** `<loc>` URLs of a sitemap XML column, in document order — the
    * discovery-side companion (robots points at sitemaps; sitemaps list
    * fetchable URLs). Same extraction shape as [[WebOps.extractLinks]].
    */
  def sitemapLocs(xml: Column): Column =
    regexp_extract_all(xml, lit("(?i)<loc>\\s*([^<\\s]+)\\s*</loc>"), lit(1))
}
