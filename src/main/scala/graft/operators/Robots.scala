package graft.operators

/** From-spec robots.txt (RFC 9309) parsing and path matching — the
  * crawl-compliance half of web ingest: given the robots body a crawl
  * stored for a host, answer "was this path allowed for this product
  * token?" for every captured URL, so a curation job can drop
  * retroactively-disallowed pages without refetching anything.
  *
  * Contract (each clause bound by `RobotsSpec` / the `ta_robots`
  * oracle):
  *  - groups = consecutive `User-agent` lines + their Allow/Disallow
  *    rules; comments (`#`) stripped; other fields (Sitemap, …) are
  *    ignored and do NOT close a group (RFC 9309 §2.2)
  *  - a group governs `agent` when its value is a case-insensitive
  *    PREFIX of the product token; the longest matched value wins and
  *    same-winner groups merge; the `*` group applies only when no
  *    named group matched (§2.2.1)
  *  - rule patterns match path PREFIXES octet-wise, `*` = any run,
  *    a FINAL `$` anchors the end (§2.2.3); an empty value is no rule
  *  - the longest matching pattern decides; on a length tie Allow
  *    wins; no matching rule = allowed (§2.2.2)
  *  - bodies are capped at 512 KiB and 2048 rules (the documented
  *    parse caps of production crawlers) — adversarial robots bodies
  *    bound work, never blow it up
  */
object Robots {

  final case class Rule(allow: Boolean, pattern: String)

  val MaxBodyChars: Int = 512 * 1024
  val MaxRules: Int = 2048

  /** rules of the group(s) governing `agent` (see contract above). */
  def rulesFor(robotsTxt: String, agent: String): Vector[Rule] = {
    // Cap oversized bodies at the last complete line: a raw cut can
    // leave a partial rule whose truncated pattern PARSES but matches
    // more (or less) than the author wrote — 'Allow: /x-longer' cut
    // to 'Allow: /x' silently broadens the allowance — so only whole
    // lines survive the cap. Degenerate corner, accepted: a body
    // whose FIRST MaxBodyChars contain no '\n' at all (one giant
    // line) keeps nothing and parses as allow-all — a newline-free
    // window contains no complete rule to keep, and RFC 9309 §2.5
    // already lets an unparseable oversized file degrade to allow.
    val txt =
      if (robotsTxt.length > MaxBodyChars) {
        val cut = robotsTxt.lastIndexOf('\n', MaxBodyChars - 1)
        robotsTxt.substring(0, if (cut >= 0) cut else 0)
      } else robotsTxt
    val token = agent.toLowerCase
    var groups = Vector.empty[(Vector[String], Vector[Rule])]
    var curAgents = Vector.empty[String]
    var curRules = Vector.empty[Rule]
    var openingGroup = false // consecutive User-agent lines share a group
    def flush(): Unit = {
      if (curAgents.nonEmpty) groups :+= ((curAgents, curRules))
      curAgents = Vector.empty; curRules = Vector.empty
    }
    txt.linesIterator.foreach { raw =>
      val hash = raw.indexOf('#')
      val line = (if (hash >= 0) raw.substring(0, hash) else raw).trim
      val colon = line.indexOf(':')
      if (line.nonEmpty && colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (!openingGroup) flush()
            // an empty agent value is not a token (RFC 9309 §2.2.1) —
            // admitting it would create a zero-length prefix matching
            // EVERY crawler and silently shadowing the `*` group
            if (value.nonEmpty) curAgents :+= value.toLowerCase
            openingGroup = true
          case "allow" | "disallow" =>
            openingGroup = false
            if (curAgents.nonEmpty && value.nonEmpty && curRules.length < MaxRules)
              curRules :+= Rule(field == "allow", value)
          // Sitemap etc: ignored-as-absent (§2.2.4) — neither closes
          // the group NOR splits a run of User-agent lines
          case _ => ()
        }
      }
    }
    flush()
    def matchLen(as: Vector[String]): Int =
      as.iterator.filter(a => a != "*" && token.startsWith(a)).map(_.length)
        .foldLeft(-1)(math.max)
    val best = groups.iterator.map(g => matchLen(g._1)).foldLeft(-1)(math.max)
    val out = Vector.newBuilder[Rule]
    if (best >= 0)
      groups.foreach { case (as, rs) => if (matchLen(as) == best) out ++= rs }
    else
      groups.foreach { case (as, rs) => if (as.contains("*")) out ++= rs }
    out.result()
  }

  /** a rule pattern as an anchored prefix regex: literal octets,
    * `*` → `.*`, final `$` → end anchor. */
  private def toRegex(pattern: String): java.util.regex.Pattern = {
    val anchored = pattern.endsWith("$")
    val body = if (anchored) pattern.dropRight(1) else pattern
    val sb = new StringBuilder("^")
    body.split("\\*", -1).zipWithIndex.foreach { case (seg, idx) =>
      if (idx > 0) sb.append(".*")
      if (seg.nonEmpty) sb.append(java.util.regex.Pattern.quote(seg))
    }
    if (anchored) sb.append("$")
    java.util.regex.Pattern.compile(sb.toString, java.util.regex.Pattern.DOTALL)
  }

  private final case class Compiled(allow: Boolean, len: Int,
                                    p: java.util.regex.Pattern)

  private def compile(robotsTxt: String, agent: String): Array[Compiled] =
    rulesFor(robotsTxt, agent)
      .map(r => Compiled(r.allow, r.pattern.length, toRegex(r.pattern))).toArray

  /** longest-match decision over compiled rules; tie → allow. */
  private def decide(rules: Array[Compiled], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    var i = 0
    while (i < rules.length) {
      val r = rules(i)
      if ((r.len > bestLen || (r.len == bestLen && r.allow && !bestAllow)) &&
        r.p.matcher(path).lookingAt()) {
        bestLen = r.len; bestAllow = r.allow
      }
      i += 1
    }
    bestAllow
  }

  def isAllowed(robotsTxt: String, agent: String, path: String): Boolean =
    decide(compile(robotsTxt, agent), path)

  // After a broadcast join the same (robots, agent) arrives in long
  // same-host runs; a per-thread last-value memo makes the per-row
  // cost one memcmp of the body + the rule prefix tests — no string
  // materialization, no reparse. The key is CLONED off the incoming
  // UTF8String (codegen reuses row buffers, so holding the original
  // reference across rows would alias rewritten memory). Pure cache —
  // never observable in results.
  private val memoU =
    new ThreadLocal[(org.apache.spark.unsafe.types.UTF8String, String, Array[Compiled])]

  /** [[isAllowed]] straight off the codegen value — the kernel entry
    * ([[graft.functions.Kernels.robotsAllowedEval]]). The robots body
    * is converted to a String only on memo miss. */
  def isAllowedCachedU(robots: org.apache.spark.unsafe.types.UTF8String,
                       agent: String, path: String): Boolean = {
    val m = memoU.get()
    val rules =
      if (m != null && m._1.equals(robots) && m._2 == agent) m._3
      else {
        val c = compile(robots.toString, agent)
        memoU.set((robots.clone(), agent, c))
        c
      }
    decide(rules, path)
  }

  /** String-keyed variant (tests, direct callers). */
  def isAllowedCached(robotsTxt: String, agent: String, path: String): Boolean =
    isAllowedCachedU(
      org.apache.spark.unsafe.types.UTF8String.fromString(robotsTxt), agent, path)
}
