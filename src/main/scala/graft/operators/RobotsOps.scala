package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pins

/** robots.txt compliance (RFC 9309) — the missing gatekeeper of the
  * web-curation family: a crawl-derived training corpus is expected
  * to honor the rules the origin published, and at 100 TB the check
  * has to be a relational plan, not a per-URL library call.
  *
  * Two layers, both oracle-replayable:
  *
  *  - [[parseRobots]]: per-host robots.txt bodies → the (host, kind,
  *    pattern) rule rows that apply to ONE crawler product token.
  *    Pure column algebra over exploded lines (comment strip, first
  *    ':' key/value split, user-agent GROUP assembly via adjacency
  *    windows, exact-agent-beats-`*` group selection with multi-group
  *    union — RFC 9309 §2.1/§2.2.1).
  *  - [[decisionBy]] / [[robotsFilterBy]] / [[robotsFilter]]: the
  *    per-URL allow/disallow decision — longest-pattern-wins with
  *    allow breaking ties (§2.2.2), no-rule and no-robots hosts
  *    allowed by default. Matching runs through the codegen
  *    [[graft.functions.RobotsMatchKernel]] (`*` glob, trailing-`$`
  *    anchor, prefix semantics otherwise).
  *
  * Scale shape: rules are O(hosts × rules-per-host) — a DIMENSION
  * next to the corpus but usually NOT broadcastable at crawl scale,
  * so the candidate join is a plain equi-join on `host` (AQE handles
  * the mega-host skew; the rules side is a few rows per key). The
  * winner is a per-URL `max(struct)` hash aggregate — map-side
  * partials, never a window over a host's full stratum. Three
  * shuffles end-to-end (host join, per-id agg, decision join-back),
  * each on a key the next stage needs anyway.
  *
  * Scope notes, deliberate: patterns match the CANONICAL path+query
  * (so percent-normalization has already been applied to both sides
  * of the comparison — a rule and a URL spelling the same octet
  * differently still meet); rule values that don't start with `/`
  * or `*` match nothing (RFC path-pattern grammar — kept rather than
  * guessed at); `crawl-delay`, `sitemap` and unknown keys are
  * ignored (§2.2.4 allows extensions; a scheduler can parse them
  * separately).
  */
object RobotsOps {

  /** Rule rows for `agent` from per-host robots.txt bodies.
    *
    * Input: one row per host — `hostCol` (already lowercased, the
    * canonical host the corpus is keyed on) and `bodyCol` (the
    * fetched robots.txt text). Output: (`host`, `kind` ∈
    * allow|disallow, `pattern`), DISTINCT — the union of every group
    * whose user-agent lines name `agent` (case-insensitive product
    * token equality), or, when no group does, of every `*` group
    * (RFC 9309 §2.2.1: most specific match, multiple matching groups
    * combine).
    *
    * Line grammar: `\r` stripped, `#` starts a comment, key is the
    * text before the FIRST ':', keys compare case-insensitively,
    * values trim. Lines before the first user-agent line belong to
    * no group and are dropped; EMPTY rule values are dropped (an
    * empty Disallow is the traditional "allow all" no-op). Adjacent
    * user-agent lines (ignoring blanks/comments/unknown keys, which
    * RFC 9309 treats as insignificant) share one group.
    */
  def parseRobots(robots: DataFrame, agent: String,
      hostCol: String = "host", bodyCol: String = "body"): DataFrame =
    parseRobotsFrom(keyedLines(robots, hostCol, bodyCol), agent)

  private def parseRobotsFrom(keyed: DataFrame,
      agent: String): DataFrame =
    groupedLines(keyed, agent)
      .filter(!col("is_ua") && col("__app") && length(col("v")) > 0)
      .select(col("host"), col("k").as("kind"), col("v").as("pattern"))
      .distinct()

  /** Every `key: value` line of every body, post line-grammar:
    * `\r` strip, `#` comment strip, trim, first-':' split, key
    * lowercased. (`ln` orders lines within a host.)
    */
  private def keyedLines(robots: DataFrame, hostCol: String,
      bodyCol: String): DataFrame = {
    val lines = robots.select(col(hostCol).as("host"),
      posexplode(split(regexp_replace(col(bodyCol), "\r", ""), "\n"))
        .as(Seq("ln", "raw")))
    lines
      .withColumn("l", trim(substring_index(col("raw"), "#", 1)))
      .withColumn("cpos", instr(col("l"), ":"))
      .filter(col("cpos") > 0)
      .withColumn("k", lower(trim(substring_index(col("l"), ":", 1))))
      .withColumn("v",
        trim(col("l").substr(col("cpos") + 1, length(col("l")))))
      .select("host", "ln", "k", "v")
  }

  /** The grammar's SIGNIFICANT lines (user-agent / allow / disallow
    * — unknown keys are insignificant per RFC 9309 §2.2.4 and MUST
    * NOT break user-agent adjacency) annotated with their group id
    * (`gid`, 0 = before any group) and whether the group binds
    * `agent` (`__app`: exact-agent groups when any exist on the
    * host, else the `*` groups).
    */
  private def groupedLines(keyed: DataFrame, agent: String): DataFrame = {
    // Lower the agent with THE SAME function the plan applies to the
    // user-agent values (Spark's lower = UTF8String.toLowerCase) —
    // same-by-construction, so no locale or casing-table drift is
    // possible for any token, ASCII or not. (Two review passes: the
    // default toLowerCase broke on a Turkish-locale JVM, and
    // Locale.ROOT still diverged from UTF8String casing for
    // non-ASCII tokens.)
    val a = org.apache.spark.unsafe.types.UTF8String
      .fromString(agent).toLowerCase.toString
    require(a.nonEmpty && !a.exists(c => c == '\n' || c == '#'),
      s"parseRobots: not a product token: '$agent'")
    val sig = keyed
      .filter(col("k").isin("user-agent", "allow", "disallow"))
      .withColumn("is_ua", col("k") === "user-agent")
    // group assembly: a user-agent line whose previous significant
    // line is NOT a user-agent line starts a new group; rules attach
    // to the running group id
    val byLine = Window.partitionBy("host").orderBy("ln")
    val grouped = sig
      .withColumn("new_grp",
        (col("is_ua") &&
          !coalesce(lag(col("is_ua"), 1).over(byLine), lit(false)))
          .cast("int"))
      .withColumn("gid", sum(col("new_grp")).over(byLine))
    // group → does it name the agent? does it name '*'? host → does
    // ANY group name the agent exactly?
    val byGrp = Window.partitionBy("host", "gid")
    val byHost = Window.partitionBy("host")
    grouped
      .withColumn("grp_exact", max(
        (col("is_ua") && lower(col("v")) === a).cast("int")).over(byGrp))
      .withColumn("grp_star", max(
        (col("is_ua") && col("v") === "*").cast("int")).over(byGrp))
      .withColumn("host_exact", max(col("grp_exact")).over(byHost))
      .withColumn("__app", col("gid") >= 1 &&
        (col("grp_exact") === 1 ||
          (col("host_exact") === 0 && col("grp_star") === 1)))
      .select("host", "ln", "k", "v", "is_ua", "gid", "__app")
  }

  /** Sitemap URLs declared in the bodies (sitemaps.org extension —
    * NOT group-scoped: a Sitemap line applies to the whole host
    * wherever it appears, including before any group). One row per
    * distinct (host, sitemap).
    */
  def parseSitemaps(robots: DataFrame, hostCol: String = "host",
      bodyCol: String = "body"): DataFrame =
    keyedLines(robots, hostCol, bodyCol)
      .filter(col("k") === "sitemap" && length(col("v")) > 0)
      .select(col("host"), col("v").as("sitemap"))
      .distinct()

  /** URL entries of fetched sitemap XML bodies (sitemaps.org): every
    * `<loc>…</loc>` text, whitespace-trimmed and XML-entity-decoded
    * (`&amp;` LAST, so `&amp;lt;` decodes to the literal `&lt;` and
    * not `<` — the same one-pass-safe order as stripHtml), tagged
    * with the body's kind: `index` when the body is a
    * `<sitemapindex>` (its locs are MORE sitemaps to fetch) else
    * `urlset` (its locs are page URLs for the frontier).
    *
    * Deliberately string-level extraction, not an XML parser: the
    * wild web's sitemaps are full of malformed XML a conforming
    * parser rejects, a per-row parser allocates a DOM per document,
    * and `<loc>` extraction is what the frontier actually needs.
    * The formulation is split-based rather than a lazy-dotall regex
    * — split the body on `</loc>` and take the text after each
    * piece's LAST `<loc>` — because it is LINEAR in the body: a
    * crafted body of N unclosed `<loc>` openers makes the lazy
    * regex quadratic in java.util.regex (an executor stall on one
    * hostile multi-MB row — review finding) while the split scan
    * stays O(bytes) in both engines. For well-formed sitemaps the
    * two read identically; on garbage the split form binds each loc
    * to its NEAREST opener. Namespaced/attributed `<loc …>` open
    * tags are out of scope (the sitemaps.org schema doesn't produce
    * them).
    */
  def parseSitemapXml(sitemaps: DataFrame, hostCol: String = "host",
      bodyCol: String = "body"): DataFrame = {
    // comment strip FIRST, linearly (split on '-->', keep each
    // piece's text before '<!--'; an unclosed '<!--' comments to
    // EOF): a body that merely MENTIONS '<sitemapindex' — or a
    // commented-out '<loc>' — in an XML comment must not
    // reclassify the whole page list or leak phantom URLs (review
    // finding; the first-occurrence rule alone still misfired on a
    // LEADING comment)
    val noComments = array_join(
      transform(split(col(bodyCol), "-->", -1),
        p => substring_index(p, "<!--", 1)), "")
    // the body's kind is whichever root tag OPENS the cleaned text
    val ipos = instr(col("__clean"), "<sitemapindex")
    val upos = instr(col("__clean"), "<urlset")
    val kind = when(ipos > 0 && (upos === 0 || ipos < upos), "index")
      .otherwise("urlset")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(col("__raw")) { case (c, (e, ch)) =>
        replace(c, lit(e), lit(ch))
      }
    sitemaps
      .select(col(hostCol).as("host"), noComments.as("__clean"))
      .select(col("host"), kind.as("kind"),
        explode(split(col("__clean"), "</loc>", -1)).as("__piece"))
      .filter(instr(col("__piece"), "<loc>") > 0)
      .withColumn("__raw", regexp_replace(
        substring_index(col("__piece"), "<loc>", -1),
        "^\\s+|\\s+$", ""))
      .filter(length(col("__raw")) > 0)
      .select(col("host"), col("kind"), decoded.as("loc"))
      .distinct()
  }

  /** Per-host crawl-delay for `agent` (the de-facto extension most
    * registries still publish; RFC 9309 leaves it to §2.2.4): the
    * MINIMUM numeric Crawl-delay value across the groups that bind
    * the agent — minimum because a scheduler honoring the most
    * conservative published figure can never be the impolite party.
    *
    * Group scoping: crawl-delay is an UNKNOWN key to the §2 grammar,
    * so it never breaks user-agent adjacency — the line belongs to
    * the group of the nearest preceding significant line (a delay
    * before any group, or in a group that doesn't bind the agent, is
    * dropped). Non-numeric values drop (cast-null), never poison.
    */
  def parseCrawlDelay(robots: DataFrame, agent: String,
      hostCol: String = "host", bodyCol: String = "body"): DataFrame =
    parseCrawlDelayFrom(keyedLines(robots, hostCol, bodyCol), agent)

  private def parseCrawlDelayFrom(keyed: DataFrame,
      agent: String): DataFrame = {
    val marks = groupedLines(keyed, agent)
      .select(col("host"), col("ln"), col("gid"), col("__app"),
        lit(null).cast("double").as("delay"))
    val cds = keyed.filter(col("k") === "crawl-delay")
      // value shape gate BEFORE any cast: only a plain non-negative
      // decimal counts. This (a) keeps a published '-10' from
      // inverting the schedule into negative offsets (min-across-
      // groups would PREFER the least conservative value — review
      // finding), (b) drops 'nan'/'inf' spellings, where Spark's
      // try_cast and DuckDB's TRY_CAST disagree ('inf' is NULL in
      // Spark, Infinity in DuckDB — the regex is the semantics both
      // engines replay identically), and (c) still never throws on
      // hostile text ('Crawl-delay: soon')
      .filter(col("v").rlike("^[0-9]+(\\.[0-9]+)?$"))
      .select(col("host"), col("ln"), lit(null).cast("long").as("gid"),
        lit(null).cast("boolean").as("__app"),
        col("v").cast("double").as("delay"))
    val byLn = Window.partitionBy("host").orderBy("ln")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marks.unionByName(cds)
      .withColumn("cur_app", last(col("__app"), ignoreNulls = true)
        .over(byLn))
      .filter(col("delay").isNotNull && col("cur_app"))
      .groupBy("host").agg(min(col("delay")).as("crawl_delay"))
  }

  /** robots_match as a Column — see
    * [[graft.functions.RobotsMatchKernel]].
    */
  def robotsMatch(path: Column, pattern: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.RobotsMatch(
      expression(path), expression(pattern)))
  }

  /** Canonical path+query of a canonical URL (the match target —
    * RFC 9309 matches the path and, for patterns that carry one, the
    * query). The canonical form always has a non-empty path, so the
    * extract is anchored and total.
    */
  private def pathQueryOf(canonUrl: Column): Column =
    // (?s): a literal control char in the path (the canonicalizer
    // preserves raw bytes it has no rule for) must not make '.'
    // stop short — an un-matched extract would yield '' as the
    // match target and every disallow rule would miss, letting a
    // crafted \n-URL bypass the compliance filter (review finding)
    regexp_extract(canonUrl, "(?s)^https?://[^/]*(/.*)$", 1)

  private def requireCols(df: DataFrame, op: String,
      cols: Seq[String]): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$op: input is missing column(s) ${missing.mkString(", ")}")
  }

  /** Per-URL robots verdict over a [[WebOps.urlParts]]-decorated
    * frame: `allowed` (no robots / no matching rule / winning rule is
    * an allow), plus the winning rule's `win_kind` / `win_pattern` /
    * `win_len` for audit (NULL when nothing matched). Winner =
    * longest pattern, allow breaking length ties (§2.2.2's "least
    * restrictive"), pattern text as a deterministic final tiebreak.
    */
  def decisionBy(decorated: DataFrame, rules: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    requireCols(decorated, "RobotsOps.decisionBy",
      Seq(idCol, "host", "canon_url"))
    requireCols(rules, "RobotsOps.decisionBy(rules)",
      Seq("host", "kind", "pattern"))
    // same silent-overwrite stance as urlParts/withIdnHost: a frame
    // already carrying a verdict (e.g. a prior pass for another
    // agent) must not have it replaced wordlessly (review finding)
    val fresh = Seq("allowed", "win_kind", "win_pattern", "win_len",
      "__w", "__pq")
    val clash = fresh.filter(decorated.columns.contains)
    require(clash.isEmpty,
      s"RobotsOps.decisionBy: input already carries " +
        s"${clash.mkString(", ")} — rename or drop before deciding")
    val cand = decorated
      .select(col(idCol), col("host"),
        pathQueryOf(col("canon_url")).as("__pq"))
      .join(rules.select(col("host"), col("kind"), col("pattern")),
        Seq("host"))
      .filter(robotsMatch(col("__pq"), col("pattern")))
    val win = cand.groupBy(col(idCol)).agg(max(struct(
      length(col("pattern")).as("len"),
      (col("kind") === "allow").cast("int").as("ok"),
      col("pattern").as("pattern"))).as("__w"))
    decorated.join(win, Seq(idCol), "left")
      .withColumn("allowed", col("__w").isNull || col("__w.ok") === 1)
      .withColumn("win_kind", when(col("__w.ok") === 1, "allow")
        .when(col("__w.ok") === 0, "disallow"))
      .withColumn("win_pattern", col("__w.pattern"))
      .withColumn("win_len", col("__w.len"))
      .drop("__w")
  }

  /** Survivors of the robots verdict — original columns only. */
  def robotsFilterBy(decorated: DataFrame, rules: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    decisionBy(decorated, rules, idCol).filter(col("allowed"))
      .drop("allowed", "win_kind", "win_pattern", "win_len")

  /** End-to-end: raw docs + per-host robots bodies + crawler token →
    * the compliant subset, decorated with the canonical URL chain.
    */
  def robotsFilter(docs: DataFrame, robots: DataFrame, agent: String,
      urlCol: String = "url", idCol: String = "doc_id"): DataFrame =
    robotsFilterBy(WebOps.urlParts(docs, urlCol),
      parseRobots(robots, agent), idCol)

  /** Deterministic politeness schedule over a frontier batch: per
    * host, URLs rank by the engine's md5-uniform priority
    * (`md5(seed ∥ ':' ∥ id)` — the same portable contract as the
    * quota family, so the schedule is a property of the data, not a
    * partition-order accident) and receive fetch offsets
    * `(rank−1) × delay` seconds, with `delay` from
    * [[parseCrawlDelay]] (hosts that published none get
    * `defaultDelay`).
    *
    * Scale note, stated rather than hidden: a schedule is a TOTAL
    * order per host, so this windows over each host's stratum —
    * unlike the quota family there is no bounded-partial shortcut
    * (every row needs its exact rank, not membership in a top-k).
    * Bound the strata BEFORE scheduling: compose
    * [[WebOps.domainQuota]] / `urlDedupBatch` upstream so a frontier
    * batch carries at most quota-many URLs per site, and the window
    * sorts bounded groups. Delays join as a broadcast-sized
    * dimension.
    *
    * @return the input + `crawl_delay` (the delay used), `rn`
    *         (1-based fetch rank within the host) and `offset_s`
    */
  def crawlSchedule(decorated: DataFrame, delays: DataFrame,
      seed: String, defaultDelay: Double = 1.0,
      idCol: String = "doc_id"): DataFrame = {
    requireCols(decorated, "RobotsOps.crawlSchedule", Seq(idCol, "host"))
    requireCols(delays, "RobotsOps.crawlSchedule(delays)",
      Seq("host", "crawl_delay"))
    require(defaultDelay >= 0,
      s"crawlSchedule: defaultDelay $defaultDelay must be >= 0")
    val clash = Seq("rn", "offset_s", "crawl_delay", "__pri")
      .filter(decorated.columns.contains)
    require(clash.isEmpty,
      s"RobotsOps.crawlSchedule: input already carries " +
        s"${clash.mkString(", ")}")
    val pri = md5(concat(lit(seed + ":"), col(idCol).cast("string")))
    val byHost = Window.partitionBy("host")
      .orderBy(col("__pri"), col(idCol).cast("string"))
    decorated
      .join(broadcast(delays.select(col("host"),
        col("crawl_delay").cast("double").as("crawl_delay"))),
        Seq("host"), "left")
      .withColumn("crawl_delay",
        coalesce(col("crawl_delay"), lit(defaultDelay)))
      .withColumn("__pri", pri)
      .withColumn("rn", row_number().over(byHost))
      .withColumn("offset_s", (col("rn") - 1) * col("crawl_delay"))
      .drop("__pri")
  }

  /** End-to-end frontier assembly — the composed discovery path a
    * crawler actually runs: sitemap bodies → page URLs (`urlset`
    * locs, entity-decoded, deduped) → canonical URL chain (non-http
    * locs drop: the frontier holds fetchable URLs) → robots verdict
    * for `agent` (survivors only) → politeness schedule over the
    * published crawl delays. Each stage is the public operator; this
    * face only pins the composition order and the shared `url` key.
    */
  def frontierFromSitemaps(sitemaps: DataFrame, robots: DataFrame,
      agent: String, seed: String,
      defaultDelay: Double = 1.0): DataFrame = {
    val pages = parseSitemapXml(sitemaps)
      .filter(col("kind") === "urlset")
      .select(col("loc").as("url")).distinct()
    val dec = WebOps.urlParts(pages)
      .filter(col("canon_url").isNotNull)
    // parse the robots bodies ONCE: the rules leg and the delays leg
    // both derive from the same keyed-line table, and Catalyst does
    // not dedupe common subplans across the two joins — without the
    // checkpoint every frontier assembly would run the line-explode
    // and group windows twice (review finding). Dimension-sized, so
    // the materialization is cheap
    val keyed = Pins.checkpoint(keyedLines(robots, "host", "body"))
    val kept = robotsFilterBy(dec, parseRobotsFrom(keyed, agent),
      idCol = "url")
    crawlSchedule(kept, parseCrawlDelayFrom(keyed, agent), seed,
      defaultDelay, idCol = "url")
  }

  /** One streaming trigger of the robots verdict (the
    * `foreachBatch` body behind
    * [[graft.streaming.StreamingPipeline.robotsStream]], same
    * landing contract as the blocklist leg): the batch's compliant
    * subset lands as a per-trigger tagged directory. `rules` is the
    * PARSED table ([[parseRobots]]) — parse once per stream, not per
    * trigger.
    */
  def robotsBatch(batch: DataFrame, rules: DataFrame, outDir: String,
      batchId: Long, producer: String = "default",
      urlCol: String = "url", idCol: String = "doc_id"): Unit = {
    val kept = robotsFilterBy(WebOps.urlParts(batch, urlCol), rules,
      idCol)
    val dir = s"$outDir/${IndexStores.tagFor(producer, batchId)}"
    kept.write.mode("overwrite").parquet(dir)
    IndexStores.forceSchemaBearing(kept, dir)
  }
}
