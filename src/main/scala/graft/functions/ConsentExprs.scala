package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.unsafe.types.UTF8String

/** Robots-exclusion evaluation (RFC 9309) as a native codegen'd
  * expression — the crawl-layer consent check a compliant
  * training-data pipeline runs before anything touches a page.
  *
  * Semantics implemented (RFC 9309 §2):
  *  - group selection: the group(s) whose `User-agent:` value is the
  *    LONGEST case-insensitive match contained in the crawler's
  *    product token win; `*` matches any agent at the lowest
  *    specificity; multiple groups with the same winning agent value
  *    merge their rules (§2.2.1 "combinable").
  *  - rule matching: a rule path matches when it is a prefix of the
  *    request path, with `*` matching any character sequence and a
  *    trailing `$` anchoring the end (§2.2.3).
  *  - precedence: the matching rule with the LONGEST path wins; on a
  *    length tie `Allow` wins (§2.2.2). An empty `Disallow:` value
  *    matches nothing (= allow all). No matching group, no matching
  *    rule, or an empty/absent robots.txt → allowed.
  *
  * Out of scope, documented: `Crawl-delay`/`Sitemap` lines are ignored
  * (non-normative). The expression matches whatever string the caller
  * passes — RFC 9309 §2.2.2 compares path + query, and
  * [[graft.llm.Consent.fromCrawl]] passes exactly that
  * (`path + '?' + query` when a query exists), so rules targeting
  * query strings (`Disallow: /page*?session=`) evaluate correctly.
  *
  * Scale: pure per-row string walk, no allocation beyond the parsed
  * rule list for ONE robots body at a time; stays inside whole-stage
  * codegen via the addReferenceObj pattern. Robots bodies are
  * per-HOST, so callers broadcast-join them onto documents first
  * ([[graft.llm.Consent.fromCrawl]]) — the expression never sees more
  * than one (body, path) pair per row. */
object ConsentExprs {

  /** True when `agent` may NOT fetch `path` per `robotsTxt`. A NULL or
    * empty robots body (no robots.txt was crawled for the host) allows
    * everything, per the RFC's unavailable-robots rule for 404s. */
  def robotsDisallowed(robotsTxt: Column, path: Column,
                       agent: String): Column =
    GraftBridge.column(RobotsDisallowed(
      GraftBridge.expression(robotsTxt), GraftBridge.expression(path),
      GraftBridge.expression(org.apache.spark.sql.functions.lit(agent))))

  case class RobotsDisallowed(first: Expression, second: Expression,
                              third: Expression)
      extends TernaryExpression
      with org.apache.spark.sql.catalyst.expressions.Predicate {

    override def nullable: Boolean = second.nullable || third.nullable

    // NULL robots (host had none) is ALLOWED, not NULL — override the
    // default null-propagation for the first child only
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val p = second.eval(input)
      val a = third.eval(input)
      if (p == null || a == null) null
      else {
        val r = first.eval(input)
        evalRobots(
          if (r == null) null else r.asInstanceOf[UTF8String],
          p.asInstanceOf[UTF8String], a.asInstanceOf[UTF8String])
      }
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("robotsDisallowed", this,
        classOf[RobotsDisallowed].getName)
      val rGen = first.genCode(ctx)
      val pGen = second.genCode(ctx)
      val aGen = third.genCode(ctx)
      val code =
        code"""
          ${pGen.code}
          ${aGen.code}
          boolean ${ev.isNull} = ${pGen.isNull} || ${aGen.isNull};
          boolean ${ev.value} = false;
          if (!${ev.isNull}) {
            ${rGen.code}
            ${ev.value} = $ref.evalRobots(
              ${rGen.isNull} ? null : ${rGen.value},
              ${pGen.value}, ${aGen.value});
          }"""
      ev.copy(code = code)
    }

    def evalRobots(robots: UTF8String, path: UTF8String,
                   agent: UTF8String): Boolean = {
      if (robots == null) false
      else ConsentExprs.disallowed(robots.toString, path.toString,
        agent.toString)
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): RobotsDisallowed =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** One parsed rule: allow?, original pattern (for length precedence). */
  private final case class Rule(allow: Boolean, pattern: String)

  /** Per-thread LRU of parsed (robots body, agent) → rule lists. At
    * 100 TB every document on a host carries the SAME robots body
    * after the broadcast join, so an uncached evaluation re-parses one
    * robots.txt once per document — millions of times for a big host.
    * Keyed by (body, agent) with access-order eviction at
    * [[ParseCacheEntries]] entries; per-thread so codegen'd tasks
    * never contend on a lock. Bounded: entries × a typical robots
    * body (≤ ~500 KB crawl-side) per executor thread. */
  private val ParseCacheEntries = 128
  private val parseCache =
    new ThreadLocal[java.util.LinkedHashMap[(String, String), Array[Rule]]] {
      override def initialValue() =
        new java.util.LinkedHashMap[(String, String), Array[Rule]](
          ParseCacheEntries, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[(String, String), Array[Rule]]) =
            size() > ParseCacheEntries
        }
    }

  /** RFC 9309 evaluation over a robots.txt body: parse (cached per
    * thread) + match. Static so unit tests hit the exact production
    * path. */
  def disallowed(robots: String, path: String, agent: String): Boolean = {
    if (robots.isEmpty) return false
    val cache = parseCache.get()
    val key = (robots, agent)
    var rules = cache.get(key)
    if (rules == null) {
      rules = parseRules(robots, agent)
      cache.put(key, rules)
    }
    // precedence: longest matching pattern; allow wins ties
    var best: Rule = null
    var i = 0
    while (i < rules.length) {
      val r = rules(i)
      if (ruleMatches(r.pattern, path) &&
          (best == null || r.pattern.length > best.pattern.length ||
            (r.pattern.length == best.pattern.length && r.allow &&
              !best.allow)))
        best = r
      i += 1
    }
    best != null && !best.allow
  }

  /** The parse half of [[disallowed]]: the winning agent group's
    * merged rule list (empty = everything allowed). */
  private def parseRules(robots: String, agent: String): Array[Rule] = {
    val agentLc = agent.toLowerCase
    def uaSpec(ua: String): Int =
      if (ua == "*") 0
      else if (ua.nonEmpty && agentLc.contains(ua.toLowerCase)) ua.length
      else -1
    // pass 1: the winning user-agent specificity across ALL groups
    // (-1 none, 0 = '*', >0 = matched token length)
    var bestSpec = -1
    robots.linesIterator.foreach { raw =>
      fieldValue(stripComment(raw), "user-agent").foreach { ua =>
        val spec = uaSpec(ua)
        if (spec > bestSpec) bestSpec = spec
      }
    }
    if (bestSpec < 0) return Array.empty // no group addresses this agent
    // pass 2: collect the rules of every group at the winning
    // specificity (RFC 9309: same-agent groups merge)
    val rules = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var groupActive = false
    var headerSpec = -1
    var parsingHeader = false
    robots.linesIterator.foreach { raw =>
      val line = stripComment(raw)
      fieldValue(line, "user-agent") match {
        case Some(ua) =>
          val spec = uaSpec(ua)
          if (!parsingHeader) { headerSpec = spec; parsingHeader = true }
          else if (spec > headerSpec) headerSpec = spec
          groupActive = false
        case None =>
          if (parsingHeader && line.nonEmpty) {
            groupActive = headerSpec == bestSpec
            parsingHeader = false
          }
          if (groupActive) {
            fieldValue(line, "allow").foreach(v =>
              if (v.nonEmpty) rules += Rule(allow = true, v))
            fieldValue(line, "disallow").foreach(v =>
              if (v.nonEmpty) rules += Rule(allow = false, v))
          }
      }
    }
    rules.toArray
  }

  private def stripComment(line: String): String = {
    val h = line.indexOf('#')
    (if (h < 0) line else line.substring(0, h)).trim
  }

  /** `Field: value` with a case-insensitive field name; None when the
    * line is not this field. */
  private def fieldValue(line: String, field: String): Option[String] = {
    val c = line.indexOf(':')
    if (c < 0) None
    else if (line.substring(0, c).trim.equalsIgnoreCase(field))
      Some(line.substring(c + 1).trim)
    else None
  }

  /** Prefix match with `*` wildcards and an optional trailing `$`
    * end-anchor — iterative greedy matching with star backtracking
    * (no regex compilation in the per-row path). */
  private[functions] def ruleMatches(pattern0: String,
                                     path: String): Boolean = {
    val anchored = pattern0.endsWith("$")
    val pattern = if (anchored) pattern0.dropRight(1) else pattern0
    var pi = 0 // pattern index
    var si = 0 // path index
    var starPi = -1
    var starSi = -1
    while (si <= path.length) {
      if (pi < pattern.length && pattern.charAt(pi) == '*') {
        starPi = pi; starSi = si; pi += 1
      } else if (pi == pattern.length) {
        // pattern consumed: a prefix match succeeds unless anchored
        if (!anchored || si == path.length) return true
        // anchored: try to push the last star further
        if (starPi < 0) return false
        starSi += 1; pi = starPi + 1; si = starSi
        if (si > path.length) return false
      } else if (si < path.length && pattern.charAt(pi) == path.charAt(si)) {
        pi += 1; si += 1
      } else if (starPi >= 0 && starSi < path.length) {
        starSi += 1; pi = starPi + 1; si = starSi
      } else return false
    }
    pi == pattern.length && !anchored
  }
}
