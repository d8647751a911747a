package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** robots.txt parsing as pure column expressions — the text-side half
  * of X-133/X-135 (the `robots_filter` / `robots_allow_filter` queries
  * consume (host, rule[, allow]) frames; this produces them from
  * fetched `/robots.txt` bodies, so the batch crawl pipeline is:
  * `WebFetch.fetchMap(…, rawText = true)` → [[groupRules]] → explode →
  * the gate; the `graft-web` reader's live check is [[groupRulesScala]]).
  *
  * Implements the Robots Exclusion Protocol's group model (RFC 9309
  * §2.1) for the `*` agent: consecutive `User-agent:` lines form ONE
  * group header, and a group's rules apply to `*` if ANY header line
  * names it. That needs a stateful scan, done here as a single
  * `aggregate` fold over the line array with a
  * (in_header_run, star_active, rules) accumulator — codegen'd, no
  * UDF. Directive names are case-insensitive, values trimmed; empty
  * `Disallow:`/`Allow:` (no-rule) and comment/blank lines contribute
  * nothing, and end-of-line `#` comments are stripped before value
  * extraction (RFC 9309 §2.2.4). [[groupRules]] collects BOTH Allow
  * and Disallow directives; precedence (longest match wins, Allow
  * wins length ties — RFC 9309 §2.2.2) is the MATCHER's job and lives
  * in the X-135 query's struct-max, not here.
  * Out of scope, documented: wildcards/`$` anchors in rule paths and
  * non-`*` agent selection. */
object RobotsTxt {

  /** Array of struct(allow: boolean, path: string) — every Allow and
    * Disallow rule in effect for `User-agent: *`, in file order. */
  def groupRules(robotsTxt: Column): Column = {
    // real servers serve CRLF; split on either ending, and fold tabs
    // into spaces so the space-only trim() below strips them too
    val lines = split(regexp_replace(robotsTxt, "\t", " "), "\r?\n")
    val init = struct(
      lit(false).as("run"),        // inside a consecutive User-agent header run
      lit(false).as("star"),       // current group applies to *
      array().cast("array<struct<allow:boolean,path:string>>").as("rules"))
    val folded = aggregate(lines, init, (acc, raw) => {
      // RFC 9309 §2.2.4: '#' starts an end-of-line comment — strip it
      // BEFORE directive/value extraction, or 'Disallow: /private/ #
      // staff only' yields a rule that never prefix-matches and the
      // gate silently fails OPEN. A full-comment line becomes blank
      // here and falls into isNoise below, preserving header runs.
      val line = trim(regexp_replace(raw, "#.*", ""))
      val low = lower(line)
      val value = trim(regexp_replace(line, "^[^:]*:", ""))
      val isUa = low.startsWith("user-agent:")
      val isDis = low.startsWith("disallow:")
      val isAllow = low.startsWith("allow:")
      // comments and blank lines are ignored entirely (RFC 9309 §2.2) —
      // in particular they do NOT break a User-agent header run
      // (comment-only lines are already blank after the strip above)
      val isNoise = line === ""
      // a User-agent line either extends the current header run (group
      // applies to * if ANY of its headers is *) or starts a new group
      val star = when(isUa && acc.getField("run"),
          acc.getField("star") || (value === "*"))
        .when(isUa, value === "*")
        .otherwise(acc.getField("star"))
      val rules = when((isDis || isAllow) && acc.getField("star") && value =!= "",
          array_append(acc.getField("rules"),
            struct(isAllow.as("allow"), value.as("path"))))
        .otherwise(acc.getField("rules"))
      struct(
        when(isNoise, acc.getField("run")).otherwise(isUa).as("run"),
        star.as("star"), rules.as("rules"))
    })
    folded.getField("rules")
  }

  /** Array of disallow path-prefixes in effect for `User-agent: *` —
    * the disallow-only view the X-133 gate consumes (reference-parity
    * semantics: allow-by-default, no Allow precedence). */
  def disallowRules(robotsTxt: Column): Column =
    transform(
      filter(groupRules(robotsTxt), r => !r.getField("allow")),
      r => r.getField("path"))

  /** The group fold of the LIVE fetch path: the DSv2 `graft-web`
    * reader consults robots on executors, outside any Catalyst context,
    * so the same group model [[groupRules]] folds in Catalyst runs here
    * as a line fold. Calls `directive(lowerCasedLine, value)` for every
    * non-`User-agent` line of a group that applies to `*`, in file
    * order; noise lines neither count nor break a header run. */
  private def foldStarGroup(robotsTxt: String)(directive: (String, String) => Unit): Unit = {
    var run = false
    var star = false
    robotsTxt.replace('\t', ' ').split("\r?\n", -1).foreach { raw =>
      val line = raw.replaceAll("#.*", "").trim
      if (line.nonEmpty) {
        val low = line.toLowerCase(java.util.Locale.ROOT)
        val value = line.replaceAll("^[^:]*:", "").trim
        val isUa = low.startsWith("user-agent:")
        if (isUa) star = if (run) star || value == "*" else value == "*"
        else if (star) directive(low, value)
        run = isUa
      }
    }
  }

  /** Plain-Scala twin of [[groupRules]] over [[foldStarGroup]].
    * RobotsTxtSpec pins this twin against the column form on shared
    * fixtures, so the two implementations cannot drift.
    * Returns (allow, pathPrefix) in file order. */
  def groupRulesScala(robotsTxt: String): Seq[(Boolean, String)] = {
    val out = Seq.newBuilder[(Boolean, String)]
    foldStarGroup(robotsTxt) { (low, value) =>
      if ((low.startsWith("disallow:") || low.startsWith("allow:")) && value.nonEmpty)
        out += ((low.startsWith("allow:"), value))
    }
    out.result()
  }

  // integer or decimal seconds; anything else (negative, units, junk)
  // is not a delay
  private val CrawlDelayValue = "[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+".r

  /** `Crawl-delay` of the `*` group in seconds, through the same group
    * fold as [[groupRulesScala]], so a delay inside a non-`*` group is
    * ignored. Non-standard (RFC 9309 leaves it out), so the most
    * conservative reading: the largest valid value when several appear. */
  def crawlDelayScala(robotsTxt: String): Option[Double] = {
    var delay: Option[Double] = None
    foldStarGroup(robotsTxt) { (low, value) =>
      if (low.startsWith("crawl-delay:") && CrawlDelayValue.matches(value))
        delay = Some(math.max(delay.getOrElse(0.0), value.toDouble))
    }
    delay
  }

  /** RFC 9309 §2.2.2 precedence over [[groupRulesScala]] rules — the
    * Scala twin of the X-135 query's struct-max: longest matching
    * prefix wins, Allow wins length ties, allow-by-default when no
    * rule matches. `path` is the URL path (leading '/'). */
  def isAllowed(rules: Seq[(Boolean, String)], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { case (allow, rule) =>
      if (path.startsWith(rule)) {
        val l = rule.length
        // lexicographic (length, allow-bit) max — allow wins ties
        if (l > bestLen || (l == bestLen && allow)) {
          bestLen = l; bestAllow = allow
        }
      }
    }
    bestLen < 0 || bestAllow
  }
}
