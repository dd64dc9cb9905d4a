package graft

import graft.operators.Robots

/** RFC 9309 semantics of the robots parser/enforcer: group assignment,
  * agent selection, pattern translation, longest-match arbitration. */
class RobotsSpec extends SparkSpec {
  import spark.implicits._

  private def rules(txt: String) =
    Robots.parseRules(Seq(("h", txt)).toDF("host", "robots_txt"),
      "host", "robots_txt")
      .select("agent", "pattern", "allow", "spec")
      .as[(String, String, Boolean, Long)].collect().toSet

  private def allowed(txt: String, urls: Seq[String],
      agent: String = "graftbot"): Map[String, Boolean] = {
    val frontier = urls.map(u => ("h", u)).toDF("host", "url")
    Robots.filterFrontier(frontier, "host", "url",
        Robots.parseRules(Seq(("h", txt)).toDF("host", "robots_txt"),
          "host", "robots_txt"), agent)
      .select("url", "allowed").as[(String, Boolean)].collect().toMap
  }

  test("groups: consecutive UA lines share rules; a UA after rules opens a new group; preamble rules drop") {
    val txt =
      """Disallow: /orphan   # before any group -> ignored
        |User-agent: a
        |User-agent: b
        |Disallow: /x
        |User-agent: c
        |Allow: /y
        |""".stripMargin
    assert(rules(txt) == Set(
      ("a", "/x", false, 2L), ("b", "/x", false, 2L), ("c", "/y", true, 2L)))
  }

  test("comments, unknown directives, and empty patterns are ignored; agent names lowercase") {
    val txt =
      """# banner
        |User-agent: GraftBot
        |Crawl-delay: 10
        |Sitemap: http://h/sitemap.xml
        |Disallow:
        |Disallow: /a # trailing comment
        |""".stripMargin
    assert(rules(txt) == Set(("graftbot", "/a", false, 2L)))
  }

  test("agent selection: a host with MY group ignores the * group entirely; others fall back to *") {
    val txt =
      """User-agent: graftbot
        |Disallow: /mine
        |User-agent: *
        |Disallow: /everyone
        |""".stripMargin
    val mine = allowed(txt, Seq("http://h/mine/a", "http://h/everyone/a"))
    assert(!mine("http://h/mine/a"))
    assert(mine("http://h/everyone/a"), "the * group must not leak in")
    val other = allowed(txt, Seq("http://h/mine/a", "http://h/everyone/a"),
      agent = "otherbot")
    assert(other("http://h/mine/a") && !other("http://h/everyone/a"))
  }

  test("patterns: * wildcard, trailing $ anchor, literal %/_ escaped, match from path start") {
    val txt =
      """User-agent: *
        |Disallow: /a*z$
        |Disallow: /lit%x
        |Disallow: /u_v
        |""".stripMargin
    val m = allowed(txt, Seq(
      "http://h/abcz", "http://h/abcz2", "http://h/xx/abcz",
      "http://h/lit%xq", "http://h/litAx", "http://h/u_v", "http://h/uAv"))
    assert(!m("http://h/abcz"), "* spans, $ anchors")
    assert(m("http://h/abcz2"), "$ must anchor the end")
    assert(m("http://h/xx/abcz"), "patterns anchor at the path START")
    assert(!m("http://h/lit%xq"), "literal % matches itself (prefix)")
    assert(m("http://h/litAx"), "literal % must NOT act as a wildcard")
    assert(!m("http://h/u_v"))
    assert(m("http://h/uAv"), "literal _ must NOT act as a single-char wildcard")
  }

  test("longest match decides; ties and no-match allow; allow can override a shorter disallow") {
    val txt =
      """User-agent: *
        |Disallow: /shop
        |Allow: /shop/sale
        |Disallow: /tie
        |Allow: /tie
        |""".stripMargin
    val m = allowed(txt, Seq("http://h/shop/x", "http://h/shop/sale/x",
      "http://h/tie/x", "http://h/elsewhere", "http://h"))
    assert(!m("http://h/shop/x"))
    assert(m("http://h/shop/sale/x"), "the longer Allow wins")
    assert(m("http://h/tie/x"), "equal specificity -> allow")
    assert(m("http://h/elsewhere"), "no match -> allow")
    assert(m("http://h"), "an empty path reads as /")
  }
}
