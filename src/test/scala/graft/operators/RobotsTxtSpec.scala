package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the RFC 9309 group semantics of the pure-column robots.txt
  * parser (the text-side half of X-133). */
class RobotsTxtSpec extends SparkSpec {

  private def parse(txt: String): Seq[String] = {
    import spark.implicits._
    Seq(txt).toDF("t")
      .select(RobotsTxt.disallowRules(col("t")).as("r"))
      .collect().head.getSeq[String](0).toSeq
  }

  test("collects every Disallow of the * group") {
    parse("User-agent: *\nDisallow: /private/\nDisallow: /tmp/") shouldEqual
      Seq("/private/", "/tmp/")
  }

  test("non-star groups are ignored; later * group still collected") {
    parse("User-agent: googlebot\nDisallow: /g/\n\nUser-agent: *\nDisallow: /a/") shouldEqual
      Seq("/a/")
  }

  test("consecutive User-agent header run applies to * wherever * appears in it") {
    parse("User-agent: a\nUser-agent: *\nDisallow: /x/") shouldEqual Seq("/x/")
    parse("User-agent: *\nUser-agent: b\nDisallow: /y/") shouldEqual Seq("/y/")
  }

  test("a new group header ends the * group — later rules don't leak in") {
    parse("User-agent: *\nDisallow: /x/\nUser-agent: b\nDisallow: /z/") shouldEqual
      Seq("/x/")
  }

  test("directives are case-insensitive; comments, blanks, empty Disallow ignored") {
    parse("# policy\nUSER-AGENT: *\n\nDISALLOW: /p/\nDisallow:\n# end") shouldEqual
      Seq("/p/")
  }

  test("comments and blank lines do not break a header run") {
    parse("User-agent: a\n# note\nUser-agent: *\nDisallow: /q/") shouldEqual Seq("/q/")
  }

  test("no * group → no rules") {
    parse("User-agent: googlebot\nDisallow: /g/") shouldEqual Seq.empty
  }

  private def parseGroup(txt: String): Seq[(Boolean, String)] = {
    import spark.implicits._
    Seq(txt).toDF("t")
      .select(RobotsTxt.groupRules(col("t")).as("r"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getBoolean(0), r.getString(1))).toSeq
  }

  test("groupRules collects Allow AND Disallow of the * group, in file order") {
    parseGroup(
      "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\nallow: /open/") shouldEqual
      Seq((false, "/private/"), (true, "/private/pub/"), (true, "/open/"))
    // empty Allow is a no-rule exactly like empty Disallow
    parseGroup("User-agent: *\nAllow:\nDisallow: /p/") shouldEqual
      Seq((false, "/p/"))
    // Allow lines of a non-star group never leak in
    parseGroup("User-agent: g\nAllow: /g/\n\nUser-agent: *\nAllow: /a/") shouldEqual
      Seq((true, "/a/"))
  }

  test("disallowRules is exactly the disallow projection of groupRules") {
    val txt = "User-agent: *\nDisallow: /a/\nAllow: /a/pub/\nDisallow: /b/"
    parse(txt) shouldEqual Seq("/a/", "/b/")
  }

  test("end-of-line comments are stripped before value extraction (RFC 9309 §2.2.4)") {
    // without the strip, the rule would be '/private/ # staff only' —
    // a prefix that matches nothing, silently failing the gate OPEN
    parse("User-agent: * # everyone\nDisallow: /private/ # staff only") shouldEqual
      Seq("/private/")
    // a Disallow whose VALUE is entirely a comment is an empty
    // (allow-all) directive, not a rule
    parse("User-agent: *\nDisallow: # nothing blocked") shouldEqual Seq.empty
  }

  test("CRLF line endings (the common server framing) parse identically to LF") {
    parse("User-agent: *\r\nDisallow: /private/\r\n\r\nDisallow: /tmp/\r\n") shouldEqual
      Seq("/private/", "/tmp/")
    parse("User-agent:\t*\r\nDisallow:\t/p/") shouldEqual Seq("/p/") // tabs around values
  }

  test("groupRulesScala (the live-reader twin) agrees with the column form on every fixture (r13)") {
    // the DSv2 reader parses robots on executors with the plain-Scala
    // twin — any drift between the two implementations would let the
    // LIVE gate disagree with the X-133/X-135 BATCH gates on the same
    // robots body. Every fixture this suite uses (plus hostile shapes)
    // must parse identically through both.
    val fixtures = Seq(
      "User-agent: *\nDisallow: /private/\nDisallow: /tmp/",
      "User-agent: googlebot\nDisallow: /g/\n\nUser-agent: *\nDisallow: /a/",
      "User-agent: a\nUser-agent: *\nDisallow: /x/",
      "User-agent: *\nUser-agent: b\nDisallow: /y/",
      "User-agent: *\nDisallow: /x/\nUser-agent: b\nDisallow: /z/",
      "# policy\nUSER-AGENT: *\n\nDISALLOW: /p/\nDisallow:\n# end",
      "User-agent: a\n# note\nUser-agent: *\nDisallow: /q/",
      "User-agent: googlebot\nDisallow: /g/",
      "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\nallow: /open/",
      "User-agent: *\nDisallow: /private/ # staff only\nAllow: /pub/",
      "User-agent: *\r\nDisallow: /private/\r\n\r\nDisallow: /tmp/\r\n",
      "User-agent:\t*\r\nDisallow:\t/p/",
      "Sitemap: https://x/s.xml\nUser-agent: *\nDisallow: /s/\nSitemap: y\nAllow: /s/a/",
      "User-agent: *\nCrawl-delay: 1\nUser-agent: b\nDisallow: /z/",
      "", "garbage without any directive\nDisallow: /orphan/")
    for (txt <- fixtures)
      withClue(s"fixture <<$txt>>: ") {
        RobotsTxt.groupRulesScala(txt) shouldEqual parseGroup(txt)
      }
  }

  test("isAllowed: longest match wins, Allow wins ties, allow by default (r13)") {
    val rules = RobotsTxt.groupRulesScala(
      "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\nDisallow: /tmp")
    RobotsTxt.isAllowed(rules, "/") shouldBe true
    RobotsTxt.isAllowed(rules, "/open/x") shouldBe true
    RobotsTxt.isAllowed(rules, "/private/x") shouldBe false
    RobotsTxt.isAllowed(rules, "/private/pub/y") shouldBe true // carve-out
    RobotsTxt.isAllowed(rules, "/tmp/z") shouldBe false
    // exact length tie between Allow and Disallow → Allow wins (§2.2.2)
    val tie = Seq((false, "/a/"), (true, "/a/"))
    RobotsTxt.isAllowed(tie, "/a/x") shouldBe true
    RobotsTxt.isAllowed(Seq.empty, "/anything") shouldBe true
  }

  test("crawlDelayScala: the * group's Crawl-delay, integer or decimal seconds") {
    RobotsTxt.crawlDelayScala("User-agent: *\nCrawl-delay: 0.3\nDisallow: /p/") shouldEqual Some(0.3)
    RobotsTxt.crawlDelayScala("User-agent: *\ncrawl-delay: 2 # seconds") shouldEqual Some(2.0)
    RobotsTxt.crawlDelayScala("User-agent: *\nCrawl-delay: .5") shouldEqual Some(0.5)
    // several valid values: the largest (the most conservative reading)
    RobotsTxt.crawlDelayScala("User-agent: *\nCrawl-delay: 1\nCrawl-delay: 4") shouldEqual Some(4.0)
    // not a delay: negative, units, junk, empty
    for (v <- Seq("-1", "5s", "soon", ""))
      RobotsTxt.crawlDelayScala(s"User-agent: *\nCrawl-delay: $v") shouldEqual None
    RobotsTxt.crawlDelayScala("User-agent: *\nDisallow: /p/") shouldEqual None
  }

  test("crawlDelayScala: a delay inside a non-* group is ignored") {
    RobotsTxt.crawlDelayScala(
      "User-agent: slowbot\nCrawl-delay: 30\n\nUser-agent: *\nDisallow: /x/") shouldEqual None
    RobotsTxt.crawlDelayScala(
      "User-agent: *\nDisallow: /x/\nUser-agent: slowbot\nCrawl-delay: 30") shouldEqual None
    // a header run that names * does carry its delay
    RobotsTxt.crawlDelayScala(
      "User-agent: slowbot\nUser-agent: *\nCrawl-delay: 3") shouldEqual Some(3.0)
  }
}
