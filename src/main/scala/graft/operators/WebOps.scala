package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** URL / domain curation — the layer a web-crawl corpus keys on before
  * any text operator runs (CCNet / C4 / RefinedWeb lineage: every real
  * curation pipeline canonicalizes URLs, groups by registrable domain,
  * and caps per-domain contribution before quality/dedup passes).
  * Reference scope note: the reference engine (a CDC replicator) has
  * no URL surface; this family is part of the [EXT] training-data
  * charter (VERDICT r10 #1).
  *
  * Design stance — ENGINE-PORTABLE STRING ALGEBRA, not a URI library:
  * every step is composed `substring_index`/`split`/`lower` arithmetic
  * with an exact DuckDB analogue, so the `url_canon` gate replays the
  * canonicalization string-op-for-string-op and a hash match pins
  * every document's canonical form. `java.net.URI` (or Spark's
  * `parse_url`, which wraps it) would be faster to write but its
  * normalization is JVM-private behavior no oracle can replay — the
  * repo-wide determinism contract rules it out.
  *
  * Scale shape: everything here is a PURE PROJECTION per row
  * (canonicalize, host, registrable domain) or a bounded per-group
  * fold (quota via [[graft.functions.TopKStrIdAgg]] partials — never a
  * window over a dominant domain, which at crawl scale is exactly the
  * stratum that breaks a window). The streaming quota leg folds each
  * trigger against a [[FrequencyStore]] CMS — O(batch) per trigger,
  * corpus never rescanned.
  */
object WebOps {

  /** Tracking query parameters dropped by [[canonicalizeUrl]] (exact
    * names; `utm_`-prefixed params are dropped by prefix). The usual
    * click-id / campaign suspects — a documented, frozen set: growing
    * it changes every canonical form, so treat additions like a store
    * geometry change (re-canonicalize the corpus). The single source
    * of truth lives beside the fused kernel
    * ([[graft.functions.UrlCanon.TrackingParams]]) so the algebra,
    * the kernel and the oracle can never drift on the list.
    */
  val TrackingParams: Seq[String] =
    graft.functions.UrlCanon.TrackingParams

  /** Multi-label public suffixes for [[registrableDomain]] — the
    * suffix-list-lite: the common ccTLD second-level registries. A
    * host ending in one of these keeps THREE labels as its
    * registrable domain; everything else keeps two. Deliberately a
    * small frozen subset of the full Public Suffix List (which is
    * thousands of rules and needs periodic refresh — out of scope for
    * a deterministic engine primitive; swap in the full list as a
    * broadcast join if exactness on exotic TLDs matters).
    */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "com.tr", "com.ar", "co.za", "com.sg",
    "com.hk", "co.nz", "com.tw")

  /** Recognizer for the URLs the family canonicalizes: http(s), any
    * scheme case. Everything else (mailto:, ftp:, garbage) is not an
    * error — a crawl is full of it — it canonicalizes to NULL;
    * filter with this predicate upstream when nulls are unwelcome.
    */
  def isHttpUrl(url: Column): Column =
    url.isNotNull && url.rlike("(?i)^https?://")

  private def schemeOf(url: Column): Column =
    lower(substring_index(url, "://", 1))

  /** Everything after `scheme://` (the raw scheme's length, so mixed
    * case costs nothing).
    */
  private def restOf(url: Column): Column =
    url.substr(length(substring_index(url, "://", 1)) + lit(4),
      length(url))

  /** The authority terminates at '/', '?' OR '#' (RFC 3986 §3.2) —
    * forgetting '?' lets a path-less `http://spam.com?id=7` (legal
    * and common in crawls) leak its query into the host and from
    * there into the registrable domain, handing every such URL its
    * own "domain" and a free pass through the quota.
    */
  private def authorityOf(url: Column): Column =
    substring_index(substring_index(
      substring_index(restOf(url), "#", 1), "/", 1), "?", 1)

  /** host[:port] of an authority: everything after the LAST '@'
    * (RFC 3986 §3.2.1 — userinfo is not part of the resource). This
    * strip is a QUOTA-INTEGRITY requirement, not a nicety: keeping
    * userinfo would let `http://x1@spam.com/…`, `http://x2@spam.com/…`
    * each mint a distinct "domain" — an infinite per-domain-quota
    * bypass that costs the adversary one character per variant.
    */
  private def hostPortOf(auth: Column): Column =
    substring_index(auth, "@", -1)

  /** Lowercased host from a host[:port] string, trailing dots
    * stripped — `spam.com.` is the same FQDN as `spam.com` (the root
    * label), and keeping the dot would give every host a one-char
    * quota alias. Bracketed IP literals (`[2001:db8::1]:8080`) split
    * host:port AFTER the `]` (VERDICT r12 #1 — a first-`:` split
    * would collapse every IPv6 URL into host `"["`); the bracket
    * host keeps its brackets, lowercased, no dot strip (an IPv6
    * literal has no root label). Degenerate bracket shapes are total
    * and deterministic: unclosed `[` keeps the whole text as host,
    * non-`:` text after `]` drops.
    */
  private def hostOf(hostPort: Column): Column =
    when(hostPort.startsWith("[") && instr(hostPort, "]") > 0,
      lower(hostPort.substr(lit(1), instr(hostPort, "]"))))
      .when(hostPort.startsWith("["), lower(hostPort))
      .otherwise(rtrim(lower(substring_index(hostPort, ":", 1)), "."))

  /** Port text of a host[:port] string under the same bracket-aware
    * split as [[hostOf]] — empty when absent.
    */
  private def portOf(hostPort: Column): Column = {
    val brEnd = instr(hostPort, "]")
    val afterBr = hostPort.substr(brEnd + lit(1), length(hostPort))
    val hostRaw = substring_index(hostPort, ":", 1)
    when(hostPort.startsWith("[") && brEnd > 0,
      when(afterBr.startsWith(":"),
        afterBr.substr(lit(2), length(afterBr))).otherwise(lit("")))
      .when(hostPort.startsWith("["), lit(""))
      .otherwise(when(instr(hostPort, ":") > 0,
        hostPort.substr(length(hostRaw) + lit(2), length(hostPort)))
        .otherwise(lit("")))
  }

  /** Percent-encoding normalization (RFC 3986 §6.2.2 — VERDICT r12
    * #3) as portable string algebra, byte-identical to the kernel's
    * [[graft.functions.UrlCanon.pctNormalize]] (spec-pinned): split
    * on '%', the head passes through, and each following segment
    * either DECODES (first two chars are a hex pair whose byte is
    * unreserved: ALPHA / DIGIT / `-._~`), UPPERCASES the hex pair
    * (valid but reserved — `%2f` ≡ `%2F`), or restores a literal
    * '%' (not a valid escape — crawls are full of bare percents and
    * a canonicalizer must stay total). Applied to path and query
    * only; hosts are documented out of scope (%-escapes there are
    * vanishingly rare and interact with the IDN/punycode decision).
    */
  private def pctNorm(s: Column): Column = {
    val segs = split(s, "%", -1)
    val fixed = transform(
      slice(segs, lit(2), greatest(size(segs) - 1, lit(0))), x => {
        val h = upper(x.substr(lit(1), lit(2)))
        val tail = x.substr(lit(3), length(x))
        when(h.rlike(PctUnreservedHexRe),
          concat(decode(unhex(h), "UTF-8"), tail))
          .when(h.rlike("^[0-9A-F]{2}$"), concat(lit("%"), h, tail))
          .otherwise(concat(lit("%"), x))
      })
    concat(element_at(segs, 1), array_join(fixed, ""))
  }

  /** Uppercased hex pairs of the RFC 3986 unreserved bytes: digits
    * 0x30-39, upper 0x41-5A, lower 0x61-7A, and `- . _ ~`
    * (0x2D 0x2E 0x5F 0x7E).
    */
  private val PctUnreservedHexRe =
    "^(2[DE]|3[0-9]|4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E)$"

  /** Dotted-quad IPv4 literal (all-digit labels, exactly four): such
    * a host has NO public suffix (the PSL algorithm excludes IPs),
    * so the registrable-domain split must return the WHOLE address —
    * a last-two-OCTETS split would throttle unrelated IP-hosted
    * sites under one shared quota "domain" and let a /16 spam farm
    * mint 65k distinct ones (VERDICT r12 #1).
    */
  private[graft] val Ipv4Re = "^[0-9]+(\\.[0-9]+){3}$"

  /** Lowercased host of an http(s) URL; NULL for non-http inputs.
    * Userinfo (`user@host`, `user:pw@host`) and trailing dots are
    * STRIPPED — both are legal URL spellings of the same host, and
    * both are one-character evasions of any per-domain grouping if
    * kept (see [[hostPortOf]]/[[hostOf]]).
    */
  def urlHost(url: Column): Column =
    when(isHttpUrl(url), hostOf(hostPortOf(authorityOf(url))))

  /** Canonical form of an http(s) URL — the dedup/grouping key a
    * crawl pipeline joins on. Steps, in order (each a portable string
    * op, replayed verbatim by the oracle):
    *
    *  1. scheme and host lowercased (RFC 3986 §6.2.2.1's
    *     case-insensitive components — the path stays case-exact);
    *     userinfo (`user[:pw]@`) and trailing host dots STRIPPED —
    *     legal spellings of the same resource and one-character
    *     per-domain-quota evasions if kept (see [[hostPortOf]]);
    *  2. fragment stripped (never sent to the server);
    *  3. default port stripped (`http:80` / `https:443`), any other
    *     port kept;
    *  4. percent-encoding normalized in path and query ([[pctNorm]]:
    *     unreserved `%XX` decodes, other valid escapes uppercase
    *     their hex, bare `%` stays literal);
    *  5. tracking params dropped (`utm_*` by prefix +
    *     [[TrackingParams]] by name — AFTER pct normalization, so
    *     `%75tm_x` is caught), remaining params SORTED byte-wise —
    *     param order is server-insignificant in practice and sorting
    *     makes equal queries equal strings;
    *  6. empty path normalized to `/`.
    *
    * Bracketed IPv6 authorities split host:port after the `]`
    * ([[hostOf]]/[[portOf]]). Non-http inputs → NULL (null in → null
    * out; see [[isHttpUrl]]).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = schemeOf(url)
    val noFrag = substring_index(restOf(url), "#", 1)
    // '/', '?' and '#' all terminate the authority (see authorityOf)
    val authority =
      substring_index(substring_index(noFrag, "/", 1), "?", 1)
    val pathq = noFrag.substr(length(authority) + lit(1), length(noFrag))
    // percent normalization (pctNorm) runs on path and query BEFORE
    // the param split/filter/sort: a decoded unreserved byte is never
    // '&'/'=' so the split is stable, and a %-spelled tracking name
    // (%75tm_x) must be caught by the name filter
    val path0 = pctNorm(substring_index(pathq, "?", 1))
    val qstr = pctNorm(when(instr(pathq, "?") > 0,
      pathq.substr(length(substring_index(pathq, "?", 1)) + lit(2),
        length(pathq)))
      .otherwise(lit("")))
    // userinfo stripped BEFORE the host:port split (a ':' inside
    // `user:pw@host` is not a port separator); bracket-aware
    // host/port split + trailing-dot strip live in hostOf/portOf
    val hostPort = hostPortOf(authority)
    val host = hostOf(hostPort)
    val port = portOf(hostPort)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val kept = filter(split(qstr, "&"), p =>
      p =!= "" && !isTrackingParam(substring_index(p, "=", 1)))
    val canonQ = array_join(array_sort(kept), "&")
    when(isHttpUrl(url),
      concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        when(path0 === "", lit("/")).otherwise(path0),
        when(canonQ =!= "", concat(lit("?"), canonQ)).otherwise(lit(""))))
  }

  private def isTrackingParam(name: Column): Column =
    name.startsWith("utm_") || name.isin(TrackingParams: _*)

  /** The FUSED canonicalizer — one codegen expression
    * ([[graft.functions.CanonicalizeUrl]]) replacing the ~15-op
    * algebra tree, byte-identical by contract (the `url_canon` gate
    * runs THIS form against the oracle's algebra replay, so a hash
    * match pins kernel ≡ algebra over the whole fixture; specs pin
    * the adversarial shapes). This is what the operators call;
    * [[canonicalizeUrl]] stays as the executable specification.
    */
  def canonicalizeUrlFused(url: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.CanonicalizeUrl(expression(url)))
  }

  /** Fused host extraction ([[graft.functions.UrlHostExpr]]) — the
    * kernel form of [[urlHost]], same contract.
    */
  def urlHostFused(url: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.UrlHostExpr(expression(url)))
  }

  /** Registrable domain of a (lowercased) host — the per-site
    * grouping key: the label before the public suffix, suffix
    * included (`news.bbc.co.uk` → `bbc.co.uk`; `a.b.example.com` →
    * `example.com`). Suffix matching is the two-label
    * [[MultiLabelSuffixes]] set; a bare suffix or single-label host
    * returns itself. IP-LITERAL hosts are their OWN registrable
    * domain (VERDICT r12 #1 — the PSL algorithm excludes IPs): a
    * dotted-quad ([[Ipv4Re]]) or bracketed IPv6 host returns itself
    * whole, never a last-two-octets slice that would merge unrelated
    * IP-hosted sites into one quota stratum and silently disarm
    * raw-IP blocklist rules.
    */
  def registrableDomain(host: Column): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    val last2 = concat(element_at(parts, -2), lit("."),
      element_at(parts, -1))
    when(host.isNull, lit(null))
      .when(host.startsWith("["), host)
      .when(host.rlike(Ipv4Re), host)
      .when(n <= 1, host)
      .when(last2.isin(MultiLabelSuffixes: _*) && n >= 3,
        concat(element_at(parts, -3), lit("."), last2))
      .when(last2.isin(MultiLabelSuffixes: _*), host)
      .otherwise(last2)
  }

  /** The frozen demonstration PSL snapshot the gates replay — REAL
    * Public Suffix List rules (publicsuffix.org format), chosen to
    * exercise every rule kind: the 22 lite two-label registries, a
    * PRIVATE-section trio (the gap VERDICT r11 #2 named: without
    * these, all of blogspot is ONE quota domain and a spammer on a
    * shared host throttles their neighbors), a wildcard TLD, its
    * exception, and a 3-label private wildcard. Production swaps in
    * the full list via [[parsePslRules]] over a downloaded snapshot;
    * the engine semantics are rule-count-independent.
    */
  val PslSampleRules: Seq[String] =
    MultiLabelSuffixes ++ Seq(
      "// PRIVATE section examples",
      "blogspot.com", "github.io", "wordpress.com",
      "*.ck", "!www.ck",
      "*.compute.amazonaws.com")

  /** A frozen ~190-rule EXCERPT of the real Public Suffix List
    * (publicsuffix.org/list/, public domain rule data; format per
    * https://publicsuffix.org/list/ — VERDICT r12 missing #4: the
    * 28-rule [[PslSampleRules]] exercises every rule KIND, but only a
    * realistic snapshot proves the depth cap and precedence hold on
    * the list's actual shapes). Deliberately includes the list's
    * hardest realities: the Japanese GEOGRAPHIC wildcards with their
    * city exceptions (`*.kawasaki.jp` / `!city.kawasaki.jp` — the
    * only exception rules in the real list), bare-wildcard ccTLDs
    * with NO normal rule (`*.bd`, `*.ck` — a 2-label .ck host IS a
    * public suffix), punycode IDN TLDs (`xn--p1ai` et al — hosts
    * must be matched in their xn-- form; see the IDN scope note on
    * [[canonicalizeUrl]]), 3-label US locality registries, and the
    * DEEPEST real entries: the 5-label S3 dualstack private rules,
    * which pin `maxL = 5` — the loud depth cap in
    * [[withRegistrableDomainPsl]] passes on the real list's shape
    * (probed: the per-level broadcast-join chain costs one join per
    * depth, ~6 joins; rule COUNT only widens the broadcast maps).
    * Production still swaps in the full download via
    * [[loadPslRules]]; this excerpt is the engine's correctness
    * fixture, not a maintained mirror.
    */
  val PslRealSnapshot: Seq[String] = Seq(
    "// ===BEGIN ICANN DOMAINS===",
    "com", "net", "org", "edu", "gov", "int", "mil", "arpa",
    "io", "ai", "app", "dev", "de", "fr", "it", "nl", "es", "pl",
    "se", "no", "fi", "dk", "ch", "at", "be", "pt", "gr", "cz", "hu",
    "ro", "ru", "su", "ca", "us",
    "// United Kingdom",
    "uk", "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk",
    "nhs.uk", "org.uk", "plc.uk", "police.uk", "sch.uk",
    "// Japan (incl. the geographic wildcards + city exceptions)",
    "jp", "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp",
    "lg.jp", "ne.jp", "or.jp",
    "*.kawasaki.jp", "*.kitakyushu.jp", "*.kobe.jp", "*.nagoya.jp",
    "*.sapporo.jp", "*.sendai.jp", "*.yokohama.jp",
    "!city.kawasaki.jp", "!city.kitakyushu.jp", "!city.kobe.jp",
    "!city.nagoya.jp", "!city.sapporo.jp", "!city.sendai.jp",
    "!city.yokohama.jp",
    "// second-level ccTLD registries",
    "au", "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
    "id.au",
    "br", "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br",
    "blog.br",
    "cn", "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "mil.cn",
    "in", "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in",
    "kr", "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr",
    "mx", "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "nz", "ac.nz", "co.nz", "cri.nz", "geek.nz", "gen.nz", "govt.nz",
    "health.nz", "iwi.nz", "kiwi.nz", "maori.nz", "mil.nz", "net.nz",
    "org.nz", "parliament.nz", "school.nz",
    "sg", "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "tr", "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "av.tr",
    "bel.tr", "biz.tr", "dr.tr", "gen.tr", "info.tr", "k12.tr",
    "name.tr", "tel.tr", "tv.tr", "web.tr",
    "tw", "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "club.tw", "game.tw", "ebiz.tw",
    "za", "ac.za", "co.za", "edu.za", "gov.za", "law.za", "net.za",
    "nom.za", "org.za", "school.za", "web.za",
    "ar", "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar",
    "mil.ar", "musica.ar", "tur.ar",
    "hk", "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
    "// US locality registries (3-label ICANN entries)",
    "k12.ak.us", "cc.ak.us", "lib.ak.us",
    "// bare-wildcard ccTLDs (no normal rule for the TLD itself)",
    "*.bd", "*.ck", "!www.ck", "*.er", "*.fk", "*.jm", "*.kh",
    "*.mm", "*.np", "*.pg",
    "// punycode IDN TLDs",
    "xn--p1ai", "xn--90ais", "xn--90a3ac", "xn--fiqs8s", "xn--fiqz9s",
    "xn--j6w193g", "xn--kprw13d", "xn--kpry57d", "xn--wgbh1c",
    "xn--mgbaam7a8h", "xn--mgberp4a5d4ar",
    "// ===END ICANN DOMAINS===",
    "// ===BEGIN PRIVATE DOMAINS===",
    "blogspot.com", "blogspot.co.uk", "blogspot.com.au", "blogspot.de",
    "blogspot.fr", "blogspot.in", "blogspot.com.br", "blogspot.mx",
    "github.io", "githubusercontent.com", "gitlab.io",
    "wordpress.com", "appspot.com", "herokuapp.com",
    "netlify.app", "vercel.app", "web.app", "firebaseapp.com",
    "pages.dev", "workers.dev", "glitch.me", "onrender.com",
    "duckdns.org", "dyndns.org", "no-ip.com",
    "cloudfront.net", "cloudfunctions.net", "azurewebsites.net",
    "cloudapp.net", "trafficmanager.net", "azureedge.net",
    "blob.core.windows.net",
    "// AWS (incl. the deepest real entries: 5-label S3 dualstack)",
    "s3.amazonaws.com", "s3-us-west-2.amazonaws.com",
    "s3-website-us-east-1.amazonaws.com",
    "s3.dualstack.ap-northeast-1.amazonaws.com",
    "s3.dualstack.eu-west-1.amazonaws.com",
    "*.compute.amazonaws.com", "*.compute-1.amazonaws.com",
    "*.compute.amazonaws.com.cn", "*.elb.amazonaws.com",
    "// ===END PRIVATE DOMAINS===")

  /** Parse publicsuffix.org-format lines into the rule table
    * [[withRegistrableDomainPsl]] joins against: one row per rule,
    * `base` = the rule's labels without markers, `kind` ∈ n(ormal) /
    * w(ildcard `*.`) / x(exception `!`), `labels` = label count of
    * base. Comments (`//`) and blanks drop; the ICANN/PRIVATE
    * section markers are comments, so both sections load — by
    * design: the PRIVATE section is the part that matters for
    * curation quotas (blogspot/github.io subdomains are independent
    * sites).
    */
  def parsePslRules(spark: org.apache.spark.sql.SparkSession,
      lines: Seq[String]): DataFrame = {
    import spark.implicits._
    pslRuleRows(lines).toDF("base", "kind", "labels")
  }

  /** The pure rule parse behind [[parsePslRules]] — also feeds the
    * oracle generator, which renders the same rows as a SQL VALUES
    * list so both engines decide from the identical rule table.
    */
  private[graft] def pslRuleRows(
      lines: Seq[String]): Seq[(String, String, Int)] = {
    val rules = lines.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .map { l =>
        val (kind, base) =
          if (l.startsWith("!")) ("x", l.substring(1))
          else if (l.startsWith("*.")) ("w", l.substring(2))
          else ("n", l)
        val b = base.toLowerCase
        (b, kind, b.count(_ == '.') + 1)
      }.toSeq.distinct
    require(rules.nonEmpty, "parsePslRules: no rules after comments")
    require(rules.forall(_._3 <= 5),
      "parsePslRules: a rule base deeper than 5 labels — not a PSL " +
        "shape; refusing to build an unbounded join chain")
    // one rule per (base, wildcard-or-not): a base carrying both an
    // 'n' and an 'x' kind would double rows through the match join
    val dup = rules.groupBy(r => (r._1, r._2 == "w"))
      .collect { case (k, v) if v.sizeIs > 1 => k._1 }
    require(dup.isEmpty,
      s"parsePslRules: conflicting rules for base(s) ${dup.mkString(", ")}")
    rules
  }

  /** Rule table from a PSL snapshot file (the full
    * https://publicsuffix.org/list/ download): driver-side read —
    * the list is ~15k lines, a broadcast-sized dimension.
    */
  def loadPslRules(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    parsePslRules(spark, spark.read.textFile(path).collect().toSeq)

  /** Registrable domain under FULL Public Suffix List semantics
    * (publicsuffix.org algorithm): host must end with the rule;
    * `*` consumes exactly one label; the prevailing rule is the
    * exception if one matches, else the longest match, else the
    * implicit `*` default; the public suffix is the prevailing rule
    * (exception: the rule minus its leftmost label) and the
    * registrable domain is the suffix plus ONE more host label — or
    * NULL when the host IS a public suffix (PSL semantics; the lite
    * [[registrableDomain]] returns the host there — callers keying
    * quotas on the output treat NULL as "no site", which is right:
    * a bare TLD is not a site).
    *
    * Scale shape — a PURE MAP pipeline, no corpus shuffle: one
    * per-level BROADCAST left join per rule depth (≤ 5 for the real
    * PSL, loud-capped), then one projection picks the prevailing
    * rule. The rule table is a dimension (≤ ~15k rows); candidates
    * are never exploded, so a 100 TB corpus streams through in one
    * stage. DuckDB replays the same decision with an exploded
    * candidate join — value-equal, plan-free.
    *
    * @param rules  [[parsePslRules]] output (base, kind, labels)
    * @return docs + `outCol` (the PSL registrable domain)
    */
  def withRegistrableDomainPsl(docs: DataFrame, rules: DataFrame,
      hostCol: String = "host",
      outCol: String = "domain_psl"): DataFrame = {
    requireFreshColumns(docs, "withRegistrableDomainPsl", Seq(outCol))
    val spark = docs.sparkSession
    // rule depth drives the join-chain length: driver-side max over
    // the (dimension-sized) rule table, loud-capped like the parse
    val maxL = rules.agg(max(col("labels"))).head.getInt(0)
    require(maxL <= 5, s"withRegistrableDomainPsl: rule depth $maxL")
    val parts = split(col(hostCol), "\\.")
    val n = size(parts)
    // l-label suffix of the host, NULL when the host is shorter (a
    // short host must not match a longer rule via slice truncation)
    def sfx(l: Int): Column =
      when(n >= l, array_join(slice(parts, -l, l), "."))
    var cur = docs
    // per-level joins: normal/exception rules match the l-label
    // suffix exactly; a wildcard rule of base depth l-1 matches at
    // level l (the '*' consumes the host's (l)th-from-right label)
    for (l <- 1 to (maxL + 1)) {
      if (l <= maxL) {
        val rl = rules.filter(col("labels") === l && col("kind") =!= "w")
          .select(col("base").as(s"__b$l"), col("kind").as(s"__k$l"))
        cur = cur.join(broadcast(rl), sfx(l) === col(s"__b$l"), "left")
      }
      if (l >= 2) {
        val wl = rules.filter(col("labels") === l - 1 && col("kind") === "w")
          .select(col("base").as(s"__wb$l"))
        cur = cur.join(broadcast(wl), sfx(l - 1) === col(s"__wb$l"), "left")
      }
    }
    // prevailing rule: exception first (deepest if several), else the
    // longest normal/wildcard match, else the implicit '*' (psLen 1)
    val excLvl = coalesce(
      (maxL to 1 by -1).map(l => when(col(s"__k$l") === "x", lit(l))): _*)
    val candPs = (1 to (maxL + 1)).flatMap { l =>
      Seq(
        if (l <= maxL) when(col(s"__k$l") === "n", lit(l)) else lit(null),
        if (l >= 2) when(col(s"__wb$l").isNotNull && n >= l, lit(l))
        else lit(null))
    }
    val psLen = coalesce(greatest(candPs: _*), lit(1))
    val dom =
      when(col(hostCol).isNull, lit(null))
        // IP literals are their OWN registrable domain — the PSL
        // algorithm excludes IPs (no public suffix), and a numeric
        // host must never suffix-group with its neighbors (VERDICT
        // r12 #1). Checked BEFORE any rule match: no PSL rule base is
        // numeric, but the implicit-'*' default would otherwise slice
        // a dotted quad to its last two octets
        .when(col(hostCol).startsWith("["), col(hostCol))
        .when(col(hostCol).rlike(Ipv4Re), col(hostCol))
        // exception rule: the registrable domain IS the rule base
        .when(excLvl.isNotNull, array_join(slice(parts, -excLvl, excLvl), "."))
        .when(n > psLen, array_join(
          slice(parts, -(psLen + lit(1)), psLen + lit(1)), "."))
        .otherwise(lit(null)) // the host IS a public suffix
    val helper = (1 to (maxL + 1)).flatMap { l =>
      (if (l <= maxL) Seq(s"__b$l", s"__k$l") else Nil) ++
        (if (l >= 2) Seq(s"__wb$l") else Nil)
    }
    cur.withColumn(outCol, dom).drop(helper: _*)
  }

  /** Canonical URL + host + registrable domain attached in one
    * projection — the decoration every downstream web op keys on.
    */
  def urlParts(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    // same silent-overwrite guard as the quota family: a caller who
    // already decorated 'domain' (e.g. with PSL semantics) must not
    // have it silently replaced by the lite split (review finding)
    requireFreshColumns(docs, "urlParts",
      Seq("canon_url", "host", "domain"))
    val host = urlHostFused(col(urlCol))
    docs.withColumn("canon_url", canonicalizeUrlFused(col(urlCol)))
      .withColumn("host", host)
      .withColumn("domain", registrableDomain(host))
  }

  /** IDN host normalization as a Column — `idn_to_ascii(host)`: the
    * `xn--` (punycode) form of an internationalized hostname, per
    * RFC 3492 with the exact pipeline and documented IDNA deviations
    * on [[graft.functions.Idn]]. ASCII hosts, `xn--` labels and IP
    * literals pass through — idempotent over canonical hosts.
    */
  def idnHost(host: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.IdnToAscii(expression(host)))
  }

  /** IDN decoration over a [[urlParts]]-decorated frame (VERDICT r12
    * missing #3): `host_idn` = [[idnHost]] of the canonical host,
    * `canon_url_idn` = the canonical URL with the host spliced to
    * its `xn--` form (so `http://bücher.example/x` and
    * `http://xn--bcher-kva.example/x` — the SAME site in the DNS —
    * collapse to ONE canonical form for dedup and prefix rules), and
    * `domain_idn` = the lite registrable-domain split over the ASCII
    * host (the suffix sets are published in `xn--` form, so the
    * split is only correct AFTER encoding). For PSL semantics over
    * IDN hosts, compose `withRegistrableDomainPsl(out, rules,
    * hostCol = "host_idn")` — the real list's IDN rules (`xn--p1ai`
    * et al) match the encoded host directly.
    *
    * A SEPARATE decoration, not a change to [[canonicalizeUrl]]: the
    * canonicalizer's algebra is its oracle-replayable specification,
    * and punycode is not expressible in the replay SQL — the IDN leg
    * is specified by RFC 3492 instead, gated on pinned absolute
    * values (`url_idn`) and spec-pinned against `java.net.IDN` where
    * IDNA2003 coincides. ASCII-host corpora pay one pass-through
    * check per row; the splice is pure string algebra on top.
    */
  def withIdnHost(docs: DataFrame, hostCol: String = "host",
      canonCol: String = "canon_url"): DataFrame = {
    requireFreshColumns(docs, "withIdnHost",
      Seq("host_idn", "canon_url_idn", "domain_idn"))
    val idn = idnHost(col(hostCol))
    // canon layout is scheme://host[:port]path[?query] — the host
    // occupies exactly len(hostCol) chars after "://", so the splice
    // is position arithmetic, never a substring search (a host that
    // also appears in the path must not be rewritten there)
    val scheme = substring_index(col(canonCol), "://", 1)
    val tailStart = length(scheme) + lit(4) + length(col(hostCol))
    val tail = col(canonCol).substr(tailStart, length(col(canonCol)))
    docs.withColumn("host_idn", idn)
      .withColumn("canon_url_idn",
        concat(scheme, lit("://"), col("host_idn"), tail))
      .withColumn("domain_idn", registrableDomain(col("host_idn")))
  }

  /** Normalize a blocklist rule table for matching: `rule_id`,
    * `kind` ∈ 'domain' (drop every doc whose registrable domain
    * equals the pattern) / 'host' (drop every doc whose HOST is the
    * pattern or a subdomain of it — UT1-class lists are host lists;
    * domain-definition-independent and scheme-free) / 'prefix' (drop
    * every doc whose CANONICAL URL starts with the pattern). Domain
    * patterns lowercase (a raw-IP pattern matches IP-literal
    * domains); host patterns lowercase + trailing-dot strip; prefix
    * patterns run through [[canonicalizeUrl]] (so a rule author's
    * `HTTP://Host:80/Forum/` matches the canonical form the docs
    * carry) and keep their host for the equi-join. Non-http prefixes
    * and unknown kinds are rejected EAGERLY over the rule table at
    * prep time.
    */
  /** Validate + normalize a blocklist rule table ONCE (eagerly —
    * see [[blocklistPrep]]). Callers running several matches over
    * one immutable rule table (filter + hits, or a streaming leg's
    * every trigger) should prep once and pass the result anywhere a
    * rule table is accepted: prepped input is recognized and not
    * re-validated.
    *
    * Scheme contract for `prefix` rules (documented trade, ADVICE
    * r12): matching is host equality + canonical-URL `startsWith`,
    * and the canonical form KEEPS the scheme — so a rule authored as
    * `https://host/path/` does not block `http://host/path/…`. List
    * a prefix per scheme when both serve the same content; a
    * scheme-agnostic host+path kind would silently merge sites that
    * genuinely differ per scheme, which a blocklist must not decide
    * for the author. For "this host and everything under it",
    * scheme-free by construction, use the `host` kind.
    */
  def prepBlocklistRules(rules: DataFrame): DataFrame = {
    // validation is EAGER over the (dimension-sized) rule table, not
    // a raise_error branch inside the projection: the consumers
    // filter on kind, Catalyst pushes that filter below the
    // projection, and an in-plan error branch on the rejected kinds
    // would be optimized into unreachability — a typo'd kind would
    // silently disable its rule in a SAFETY filter (review finding).
    // NULL-proof three-valued logic: a NULL kind/pattern/rule_id must
    // land in `bad`, not slip the filter as NULL (second review pass)
    val hostPat = rtrim(lower(col("pattern")), ".")
    val bad = rules
      .filter(col("rule_id").isNull || col("pattern").isNull ||
        coalesce(!col("kind").isin("domain", "prefix", "host"),
          lit(true)) ||
        (col("kind") === "prefix" &&
          canonicalizeUrlFused(col("pattern")).isNull) ||
        // host patterns: non-empty after normalization, no EMPTY
        // labels (a leading/doubled dot — e.g. the common authoring
        // form '.example.com' — can never match a canonical host and
        // would be a silently dead rule in a SAFETY filter, the exact
        // class the eager validation exists for), depth-capped — the
        // matcher runs one suffix join per DISTINCT host-rule depth,
        // so the depth must be a small constant, loudly
        (col("kind") === "host" &&
          (length(hostPat) === 0 ||
            hostPat.rlike("^\\.|\\.\\.") ||
            size(split(hostPat, "\\.")) > MaxHostRuleLabels)))
      .select("rule_id", "kind", "pattern").limit(3).collect()
    require(bad.isEmpty,
      "blocklist: invalid rule(s) — rule_id/kind/pattern must be " +
        "non-null, kind must be 'domain', 'prefix' or 'host', prefix " +
        "patterns must be http(s) URLs, and host patterns non-empty " +
        "with no empty labels (no leading/doubled dots) and at most " +
        s"$MaxHostRuleLabels labels: " +
        bad.map(r => s"${r.getString(0)}(${r.getString(1)}: " +
          s"${r.getString(2)})").mkString(", "))
    rules.select(col("rule_id"), col("kind"), col("pattern"),
      when(col("kind") === "domain", lower(col("pattern")))
        .when(col("kind") === "host", hostPat)
        .when(col("kind") === "prefix",
          canonicalizeUrlFused(col("pattern"))).as("pat"),
      when(col("kind") === "prefix", urlHostFused(col("pattern")))
        .as("phost"),
      when(col("kind") === "host", size(split(hostPat, "\\.")))
        .as("plabels"))
  }

  /** Host-rule depth cap: each DISTINCT depth costs one broadcast
    * anti-join over the corpus, so it must stay a small constant —
    * real host lists (UT1-class) sit at 2-5 labels.
    */
  private val MaxHostRuleLabels = 8

  private def blocklistPrep(rules: DataFrame): DataFrame = {
    val cols = rules.columns.toSet
    if (cols.contains("pat") && cols.contains("phost") &&
      cols.contains("plabels")) rules
    else prepBlocklistRules(rules)
  }

  /** The l-label suffix of the (dotted) `host` column — NULL when the
    * host is shorter (a short host must not match a longer rule via
    * slice truncation). IP-LITERAL hosts never suffix-match (review
    * finding, same invariant as [[registrableDomain]]): octets are
    * not subdomain labels, so a short numeric rule like `3.4` must
    * not mass-drop every IPv4 host ending in those octets — an IP
    * host matches a host rule only by FULL-HOST equality (l == its
    * label count). Bracketed literals are one dotless "label" and
    * were equality-only already; the guard also covers IPv4-mapped
    * bracket forms (`[::ffff:1.2.3.4]`), whose inner dots must not
    * mint suffixes.
    */
  private def hostSfx(l: Int): Column = {
    val parts = split(col("host"), "\\.")
    val isIp = col("host").startsWith("[") || col("host").rlike(Ipv4Re)
    when(isIp, when(size(parts) === l, col("host")))
      .otherwise(when(size(parts) >= l,
        array_join(slice(parts, -l, l), ".")))
  }

  /** The distinct depths of the prepped table's host rules —
    * driver-side over the dimension-sized rule table, bounded by
    * [[MaxHostRuleLabels]]; drives one suffix join per depth.
    */
  private def hostRuleDepths(prepped: DataFrame): Seq[Int] =
    prepped.filter(col("kind") === "host")
      .select(col("plabels")).distinct().collect()
      .map(_.getInt(0)).toSeq.sorted

  /** URL/domain blocklist filter — the FIRST gate of every production
    * crawl pipeline (CCNet/C4/RefinedWeb drop documents against
    * curated domain + URL-prefix lists, UT1-class, before anything
    * else runs; VERDICT r11 #3). Keeps the docs NO rule matches,
    * decorated with `canon_url`/`host`/`domain`.
    *
    * Scale shape: domain rules are one BROADCAST anti-join on the
    * registrable domain (pure equi — a UT1-sized list of ~millions
    * of domains is still a broadcast dimension next to a 100 TB
    * corpus). Prefix rules anti-join on the PREFIX'S HOST (equi) with
    * the `startsWith` as a residual — a hash join, never a
    * nested-loop scan of rules × corpus; a host carrying many prefix
    * rules costs its docs one residual check per such rule, which is
    * the workload's real shape (a handful of prefixes per blocked
    * forum).
    */
  def blocklistFilter(docs: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame =
    // fresh-column guard lives in urlParts (one maintenance point)
    blocklistFilterBy(urlParts(docs, urlCol), rules)

  /** [[blocklistFilter]] over an ALREADY-DECORATED frame — the face
    * that composes with [[withRegistrableDomainPsl]]: decorate with
    * `urlParts`, overwrite `domain` with the PSL split (or any other
    * site key), then filter, and the DOMAIN rules match the caller's
    * domain definition. Requires `canon_url`, `host` and `domain`
    * columns; prefix rules are domain-definition-independent (they
    * match host + canonical URL).
    */
  def blocklistFilterBy(decorated: DataFrame,
      rules: DataFrame): DataFrame = {
    requireDecorated(decorated, "blocklistFilterBy")
    val prepped = blocklistPrep(rules)
    val domRules = prepped.filter(col("kind") === "domain")
      .select(col("pat").as("__bl_dom"))
    val preRules = prepped.filter(col("kind") === "prefix")
      .select(col("pat").as("__bl_pre"), col("phost").as("__bl_phost"))
    val base = decorated
      .join(broadcast(domRules), col("domain") === col("__bl_dom"),
        "left_anti")
      .join(broadcast(preRules),
        col("host") === col("__bl_phost") &&
          col("canon_url").startsWith(col("__bl_pre")), "left_anti")
    // host rules ("this host and all its subdomains", VERDICT r12
    // missing #5 — domain-definition-INDEPENDENT, unlike the domain
    // kind): one broadcast anti equi-join per DISTINCT rule depth on
    // the host's l-label suffix — equality when the host is exactly
    // the rule, suffix when deeper; never a rules×corpus scan
    hostRuleDepths(prepped).foldLeft(base) { (cur, l) =>
      val rl = prepped.filter(col("kind") === "host" &&
        col("plabels") === l).select(col("pat").as(s"__bl_h$l"))
      cur.join(broadcast(rl), hostSfx(l) === col(s"__bl_h$l"),
        "left_anti")
    }
  }

  private def requireDecorated(decorated: DataFrame, op: String): Unit = {
    // same conf-aware fold as requireFreshColumns: under
    // caseSensitive=true a 'Canon_URL' column does NOT resolve
    // col("canon_url"), so it must not satisfy the guard
    val fold: String => String =
      if (decorated.sparkSession.sessionState.conf.caseSensitiveAnalysis)
        identity
      else _.toLowerCase
    val have = decorated.columns.map(fold).toSet
    require(Seq("canon_url", "host", "domain").forall(have.contains),
      s"$op: input must carry canon_url/host/domain " +
        "(urlParts or an equivalent decoration)")
  }

  /** Per-rule hit audit for [[blocklistFilter]]: every rule with the
    * number of documents it blocks (0 included — a rule that never
    * fires is list rot worth seeing). Same broadcast joins as the
    * filter, one map-side-combinable count.
    */
  def blocklistHits(docs: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame =
    blocklistHitsBy(
      urlParts(docs, urlCol).select("canon_url", "host", "domain"),
      rules)

  /** [[blocklistHits]] over an ALREADY-DECORATED frame — the audit
    * face of [[blocklistFilterBy]] (VERDICT r12 "what's wrong",
    * minor): a pipeline filtering under a PSL (or any other) domain
    * decoration must audit against the SAME decoration, or the
    * domain-rule hit counts disagree with what the filter actually
    * drops (a `bad.blogspot.com` rule: blocks under PSL, audits 0
    * under the lite split). Requires `canon_url`/`host`/`domain`.
    */
  def blocklistHitsBy(decorated: DataFrame,
      rules: DataFrame): DataFrame = {
    requireDecorated(decorated, "blocklistHitsBy")
    // pin the decorated projection (optimization r13): the audit fans
    // it into one branch per rule KIND plus one per host-rule depth,
    // and each branch otherwise replays the docs scan + canonicalizer
    // kernel; blocks release via ContextCleaner once unreachable
    val d = Pins.checkpoint(decorated.select("canon_url", "host", "domain"))
    val prepped = blocklistPrep(rules)
    val dm = d.join(broadcast(prepped.filter(col("kind") === "domain")
        .select(col("rule_id"), col("pat"))),
      col("domain") === col("pat")).select("rule_id")
    val pm = d.join(broadcast(prepped.filter(col("kind") === "prefix")
        .select(col("rule_id"), col("pat"), col("phost"))),
      col("host") === col("phost") &&
        col("canon_url").startsWith(col("pat"))).select("rule_id")
    val hm = hostRuleDepths(prepped).map { l =>
      d.join(broadcast(prepped.filter(col("kind") === "host" &&
          col("plabels") === l).select(col("rule_id"), col("pat"))),
        hostSfx(l) === col("pat")).select("rule_id")
    }
    val counts = hm.foldLeft(dm.unionAll(pm))(_ unionAll _)
      .groupBy("rule_id").agg(count(lit(1)).as("n_hits"))
    rules.select("rule_id", "kind", "pattern")
      .join(counts, Seq("rule_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
  }

  /** One streaming-blocklist trigger — the stateless sibling of
    * [[quotaBatch]], same producer-scoped landing pattern: filter the
    * batch against the rules and land the survivors under the
    * batch-tag dir ([[IndexStores.landTrigger]]'s staged publish). No
    * store and no ledger — the filter is memoryless, so a crash-replay
    * replaces the tag with byte-identical rows by construction, and a
    * replay whose write fails leaves the first landing in place.
    */
  def blocklistBatch(batch: DataFrame, rules: DataFrame,
      outDir: String, batchId: Long, producer: String = "default",
      urlCol: String = "url"): Unit =
    IndexStores.landTrigger(blocklistFilter(batch, rules, urlCol),
      outDir, producer, batchId)

  /** Deterministic per-domain quota — keep at most `maxPerDomain`
    * documents per registrable domain, chosen by the engine's
    * md5-uniform priority (`md5(seed ∥ ':' ∥ id)`, the
    * [[ReservoirStore.priorityFor]] contract): a uniform per-domain
    * sample that any engine replays exactly, not a partition-order
    * accident. The C4/RefinedWeb "no domain dominates the corpus"
    * gate.
    *
    * Scale shape: the per-domain ranking runs through bounded
    * [[graft.functions.TopKStrIdAgg]] partials (≤ maxPerDomain
    * (priority, id) pairs per (domain, task) cross ONE exchange) —
    * never a window, because a real crawl has a dominant domain and a
    * window would sort that stratum in one task. Winners come back as
    * a broadcast join carrying their rank.
    *
    * @return the kept rows + `domain` + `rn` (1-based priority rank
    *         within the domain)
    */
  def domainQuota(docs: DataFrame, maxPerDomain: Int, seed: String,
      idCol: String = "doc_id", urlCol: String = "url"): DataFrame = {
    require(maxPerDomain >= 1,
      s"domainQuota: maxPerDomain $maxPerDomain must be >= 1")
    requireFreshColumns(docs, "domainQuota", Seq("domain"))
    domainQuotaBy(docs.withColumn("domain",
      registrableDomain(urlHostFused(col(urlCol)))), maxPerDomain, seed,
      idCol)
  }

  /** [[domainQuota]] over a PRECOMPUTED grouping column — the face
    * that composes with [[withRegistrableDomainPsl]] (PSL domains) or
    * any other site key. Same bounded-partial plan, same md5-uniform
    * selection, same `rn` contract.
    */
  def domainQuotaBy(withDom: DataFrame, maxPerDomain: Int,
      seed: String, idCol: String = "doc_id",
      domCol: String = "domain"): DataFrame = {
    require(maxPerDomain >= 1,
      s"domainQuotaBy: maxPerDomain $maxPerDomain must be >= 1")
    requireFreshColumns(withDom, "domainQuotaBy", Seq("rn"))
    withDom.join(broadcast(quotaWinners(withDom, maxPerDomain, seed,
        idCol, domCol)),
      col(idCol).cast("string") === col("__wid"))
      .drop("__wid")
  }

  /** Per-domain TOKEN budget — [[domainQuota]]'s mass-based sibling
    * (the Dolma/C4-shaped dial: a domain contributes at most
    * `budgetTokens` tokens, not at most k documents, so one
    * 100k-token page can't ride a doc-count quota into dominance).
    * Documents are admitted in the engine's md5 priority order,
    * greedily while the domain's RUNNING CHARGED total stays ≤ the
    * budget.
    *
    * Charge contract: each document charges
    * `max(tokensCol, minTokensCharge)` — the floor is load-bearing
    * twice over. (1) CURATION: a million one-token fragments can't
    * dominate a domain's budget any more than one giant page can.
    * (2) SCALE: budget ∕ floor bounds the admissible docs per domain,
    * so the exact running-sum window runs over a PRE-PRUNED candidate
    * set of at most that many rows per domain (the bounded
    * [[graft.functions.TopKStrIdAgg]] partials prune first — sound
    * because admission charges ≥ floor per doc), never over a
    * dominant domain's full stratum. The bound is a loud require,
    * not a silent cap.
    *
    * @return the admitted rows + `domain`, `charged` (the per-doc
    *         charge) and `cum_charged` (the domain's running total
    *         including this doc, ≤ budgetTokens)
    */
  def domainTokenQuota(docs: DataFrame, budgetTokens: Long,
      seed: String, idCol: String = "doc_id", urlCol: String = "url",
      tokensCol: String = "est_tokens",
      minTokensCharge: Long = 50L): DataFrame = {
    requireFreshColumns(docs, "domainTokenQuota", Seq("domain"))
    domainTokenQuotaBy(docs.withColumn("domain",
        registrableDomain(urlHostFused(col(urlCol)))),
      budgetTokens, seed, idCol, tokensCol, minTokensCharge)
  }

  /** [[domainTokenQuota]] over a PRECOMPUTED grouping column — the
    * token-budget sibling of [[domainQuotaBy]], composing with
    * [[withRegistrableDomainPsl]] or any other site key. Same
    * bounded pre-prune, same exact greedy running sum.
    */
  def domainTokenQuotaBy(withDom: DataFrame, budgetTokens: Long,
      seed: String, idCol: String = "doc_id",
      tokensCol: String = "est_tokens", minTokensCharge: Long = 50L,
      domCol: String = "domain"): DataFrame = {
    require(budgetTokens >= 1 && minTokensCharge >= 1,
      s"domainTokenQuotaBy: budget $budgetTokens and floor " +
        s"$minTokensCharge must be >= 1")
    requireFreshColumns(withDom, "domainTokenQuotaBy",
      Seq("charged", "cum_charged", "rn"))
    // the bound is computed in Long FIRST: a budget/floor ratio past
    // 2^31 truncated to Int could wrap into (0, 1e6], slip the guard,
    // and silently under-admit (ADVICE r11)
    val kMaxL = budgetTokens / minTokensCharge + 1L
    require(kMaxL <= 1000000L,
      s"domainTokenQuotaBy: budget/floor admits up to $kMaxL docs " +
        "per domain — the bounded pre-prune carries that many " +
        "(priority, id) pairs per (domain, task); raise " +
        "minTokensCharge or lower the budget")
    val kMax = kMaxL.toInt
    val charged = withDom.withColumn("charged",
      greatest(col(tokensCol).cast("long"), lit(minTokensCharge)))
    // phase 1: bounded prune — only the first kMax docs per domain
    // (by priority) can possibly fit under the budget, because every
    // doc charges >= the floor
    val pruned = charged.join(
      broadcast(quotaWinners(charged, kMax, seed, idCol, domCol)),
      col(idCol).cast("string") === col("__wid"))
      .drop("__wid", "rn")
    // phase 2: the exact greedy running sum over the bounded winner
    // set — <= kMax rows per domain by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domCol)
      .orderBy(ReservoirStore.priorityFor(seed, col(idCol)),
        col(idCol).cast("string"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    pruned.withColumn("cum_charged", sum(col("charged")).over(w))
      .filter(col("cum_charged") <= budgetTokens)
  }

  /** Loud schema guard: the operator is about to mint these output
    * columns via `withColumn`, which would SILENTLY OVERWRITE a
    * same-named input column (ADVICE r11) — refuse instead.
    */
  private def requireFreshColumns(docs: DataFrame, op: String,
      reserved: Seq[String]): Unit = {
    // the comparison mirrors withColumn's resolution: under the
    // default spark.sql.caseSensitive=false an input 'Domain' IS
    // overwritten by withColumn("domain", ...), so case variants
    // must clash; under caseSensitive=true they coexist legally and
    // must NOT be refused (second review pass). Reported names are
    // the CALLER'S spellings, not the folded forms.
    val fold: String => String =
      if (docs.sparkSession.sessionState.conf.caseSensitiveAnalysis)
        identity
      else _.toLowerCase
    val reservedSet = reserved.map(fold).toSet
    val clash = docs.columns.filter(c => reservedSet.contains(fold(c)))
    require(clash.isEmpty,
      s"$op: input already has column(s) ${clash.mkString(", ")} — " +
        s"these are $op output names and would be silently " +
        "overwritten; rename them upstream")
  }

  /** The bounded per-group winner table: (__wid, rn) per kept id —
    * shared by the batch quota and the streaming leg's within-trigger
    * ranking.
    *
    * Id contract: `idCol` must be UNIQUE across the input (the same
    * contract `priorityFor` already needs for a well-defined rank).
    * A duplicated id would multiply rows through the winners join and
    * silently exceed the quota; any duplicate that reaches the winner
    * set trips the loud `__dup` guard below (a duplicate whose copies
    * are all evicted is undetectable without a corpus-wide distinct —
    * the contract, not the guard, covers that case).
    */
  private def quotaWinners(withDom: DataFrame, k: Int, seed: String,
      idCol: String, domCol: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKStrIdAgg(k))
    val id = when(col(idCol).isNotNull, col(idCol).cast("string"))
      .otherwise(raise_error(lit(
        s"domainQuota: null $idCol — the id column must be non-null " +
          "to rank")))
    val winners = withDom
      .select(col(domCol).as("__g"),
        ReservoirStore.priorityFor(seed, id).as("__pri"), id.as("__ids"))
      .groupBy("__g")
      .agg(topk(col("__pri"), col("__ids")).as("top"))
      .select(posexplode(col("top").getField("rows")).as(Seq("pos", "r")))
      .select(col("r").getField("_2").as("__wid"),
        (col("pos") + 1).cast("bigint").as("rn"))
    // duplicate-id tripwire over the (small, pre-broadcast) winner
    // set: one id winning twice — same domain or two domains — means
    // the input violated the unique-id contract and the join back
    // would multiply rows past the quota. groupBy, not a window: the
    // quota family's plan contract is window-free, and on a legal
    // input each __wid appears exactly once so min(rn) IS rn
    winners.groupBy("__wid")
      .agg(min(col("rn")).as("rn"), count(lit(1)).as("__dup"))
      .select(when(col("__dup") > 1, raise_error(concat(
          lit(s"domainQuota: duplicate $idCol '"), col("__wid"),
          lit("' — ids must be unique; a duplicate multiplies rows " +
            "through the winners join and exceeds the quota"))))
        .otherwise(col("__wid")).as("__wid"),
        col("rn"))
  }

  /** One streaming-quota trigger (the
    * [[MembershipStore.curateBatch]] shape): admit each batch's
    * documents per registrable domain only while the domain's
    * RUNNING admitted count — tracked in a [[FrequencyStore]] CMS —
    * is under `maxPerDomain`, land the admitted rows under a
    * producer-scoped batch-tag dir, then fold ONLY the admitted
    * domains into the store (ledger-fenced, exactly once).
    *
    * Quota contract under CMS one-sidedness: the estimate is ≥ the
    * true admitted count, so `remaining = quota − est` never
    * over-grants — a domain can NEVER exceed its quota; it can be cut
    * slightly early once ε·N noise reaches the quota's magnitude
    * (size eps accordingly — the [[FrequencyStore.novelty]]
    * noise-floor caveat in the conservative direction). Within a
    * trigger the ranking is the deterministic md5 priority (bounded
    * TopK partials, no window), so a crash-replayed trigger — ledger
    * absent, store state identical — recomputes the IDENTICAL
    * admitted set and the staged landing replaces its tag idempotently
    * ([[IndexStores.landTrigger]]); a replay
    * AFTER the extend committed returns before touching anything
    * (the output landed before the extend by construction).
    */
  def quotaBatch(batch: DataFrame, storePath: String, outDir: String,
      batchId: Long, maxPerDomain: Int, seed: String,
      producer: String = "default", idCol: String = "doc_id",
      urlCol: String = "url", eps: Double = 0.001,
      domainDecorator: Option[DataFrame => DataFrame] = None): Unit = {
    requireFreshColumns(batch, "quotaBatch",
      Seq("domain", "rn", "__dk", "est"))
    IndexStores.fencedCurationStep(batch, storePath, outDir, batchId,
        producer) { (b, bootstrapped) =>
      // the NULL domain (non-http URL) is its own quota group, like
      // every grouped operator here — but the CMS key is
      // null-intolerant (estimate would go NULL and the filter would
      // silently drop the group from trigger 1 on, after the
      // bootstrap trigger ADMITTED it), so ranking, estimate and
      // extend all run on an internal never-null counting key
      // (dkOf: prefix-TAGGED, collision-free — ADVICE r11); the
      // landed payload keeps the real (possibly null) domain. The
      // grouping key itself is pluggable: domainDecorator (e.g. a
      // PSL decoration) must add a 'domain' column; the default is
      // the lite registrable split
      val decorated = domainDecorator match {
        case Some(dec) =>
          val out = dec(b)
          require(out.columns.map(_.toLowerCase).contains("domain"),
            "quotaBatch: domainDecorator must add a 'domain' column")
          out
        case None => b.withColumn("domain",
          registrableDomain(urlHostFused(col(urlCol))))
      }
      val withDom = decorated.withColumn("__dk", dkOf)
      val ranked = withDom.join(
        broadcast(quotaWinners(withDom, maxPerDomain, seed, idCol,
          "__dk")),
        col(idCol).cast("string") === col("__wid"))
        .drop("__wid")
      val est =
        if (bootstrapped) {
          // key-format fence BEFORE any scoring (ADVICE r12): a store
          // counted under a different key derivation (the pre-r12
          // coalesce key) would estimate 0 for every re-keyed domain
          // and silently re-admit a full quota per domain — and the
          // fenced step LANDS output before the extend, so extend-time
          // detection would be too late
          FrequencyStore.requireKeyFormat(batch.sparkSession, storePath,
            DkKeyFormat)
          FrequencyStore.estimate(ranked, col("__dk"), storePath)
        } else ranked.withColumn("est", lit(0L))
      est.filter(col("rn") <=
          greatest(lit(0L), lit(maxPerDomain.toLong) - col("est")))
        .drop("rn", "est", "__dk")
    } { admitted =>
      // the counting key is re-derived from the landed 'domain' (a
      // pure deterministic projection), so the extend folds exactly
      // what landed
      FrequencyStore.extend(admitted.withColumn("__dk", dkOf),
        col("__dk"), storePath, batchId, eps = eps,
        producer = producer, keyFormat = DkKeyFormat)
    }
  }

  /** The never-null CMS counting key: 'd:' + domain for real
    * domains, the bare 'n' for the null group — prefix-tagged so no
    * host string can collide with the null group (ADVICE r11).
    */
  private def dkOf: Column =
    when(col("domain").isNotNull,
      concat(lit("d:"), col("domain"))).otherwise(lit("n"))

  /** Version marker for [[dkOf]]'s key derivation, stamped into the
    * quota store's meta ([[FrequencyStore]] `key_format` — ADVICE
    * r12): a store counted under a DIFFERENT derivation (the pre-r12
    * `coalesce(domain, '')` key) estimates 0 for every re-keyed
    * domain, so an upgraded reader would silently re-admit a full
    * quota per domain. Bump this string whenever [[dkOf]] changes;
    * mismatching stores reject loudly and direct a rebuild.
    */
  private val DkKeyFormat = "dk:v1"

  /** HTML → text extraction — the step a crawl pipeline runs before
    * ANY text operator (quality, dedup, langid all assume prose, and
    * markup inflates every shingle/token statistic). Deliberately a
    * PORTABLE REGEX PIPELINE, not an HTML parser: each step is one
    * `regexp_replace`/`replace` with an exact DuckDB analogue (RE2
    * syntax subset — no backrefs, no lookaround), so the gate replays
    * it step-for-step and the extraction is deterministic on any
    * engine. Steps, in order:
    *
    *  1. comments dropped (`<!-- … -->`, dotall non-greedy);
    *  2. `<script>`/`<style>` elements dropped WITH their content
    *     (case-insensitive, dotall non-greedy — their text is code,
    *     not prose);
    *  3. every remaining tag replaced by a SPACE (not "", which would
    *     weld `…end</p><p>Start…` into one token);
    *  4. the six ubiquitous entities decoded — `&lt; &gt; &quot;
    *     &#39; &nbsp;` then `&amp;` LAST (decoding it first would
    *     double-decode `&amp;lt;`);
    *  5. whitespace collapsed to single spaces, trimmed.
    *
    * Scope contract (documented, loud nowhere — malformed HTML is the
    * norm in a crawl): numeric character references beyond `&#39;`
    * and exotic named entities pass through verbatim; CDATA and
    * unclosed script blocks degrade to tag-stripping; a literal `>`
    * INSIDE an attribute value (legal HTML) ends the tag early and
    * leaks the attribute tail into the text, and a bare `<` in prose
    * swallows text up to the next `>` — the inherent trade of the
    * regex family (every regex stripper shares it; the exact
    * alternative is a char-level scanner tracking quote state, which
    * would leave the engine-portable-replay contract). Case
    * normalization is NOT applied — compose with
    * [[TextOps.normalize]] when the downstream op wants it.
    */
  def stripHtml(html: Column): Column = {
    val noComments = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComments,
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Batch first-occurrence dedup by CANONICAL URL: one
    * md5-priority winner per canonical form (full row preserved),
    * non-http rows passed through untouched. The deterministic
    * winner selection is a `min_by` HASH AGGREGATE — O(1) state per
    * group with map-side partials, no window over a hot URL, no
    * broadcast of a corpus-sized winner table — and is
    * oracle-replayable (gate `url_dedup_first` pins it against a
    * DuckDB window replay). [[urlDedupBatch]] runs this per trigger
    * before its cross-trigger Bloom.
    */
  def firstOccurrenceByCanonUrl(docs: DataFrame, seed: String,
      idCol: String = "doc_id", urlCol: String = "url"): DataFrame = {
    requireFreshColumns(docs, "firstOccurrenceByCanonUrl",
      Seq("canon_url"))
    val withCanon = docs.withColumn("canon_url",
      canonicalizeUrlFused(col(urlCol)))
    val http = withCanon.filter(col("canon_url").isNotNull)
    val nonHttp = withCanon.filter(col("canon_url").isNull)
    // the ordering struct (priority, id-string) is unique per row
    // under the unique-id contract, so min_by is deterministic
    val idStr = when(col(idCol).isNotNull, col(idCol).cast("string"))
      .otherwise(raise_error(lit(
        s"firstOccurrenceByCanonUrl: null $idCol — ids must be " +
          "non-null to rank")))
    http.groupBy(col("canon_url"))
      .agg(min_by(struct(http.columns.map(col): _*),
        struct(ReservoirStore.priorityFor(seed, idStr), idStr))
        .as("__r"))
      .select(col("__r.*"))
      .unionByName(nonHttp)
  }

  /** One streaming URL-dedup trigger — re-crawl suppression by
    * CANONICAL URL across the stream's whole lifetime (the crawl
    * frontier's seen-set, which no per-trigger distinct can provide):
    * within the trigger, keep ONE row per canonical URL — the
    * engine's md5-priority winner via [[firstOccurrenceByCanonUrl]]'s
    * `min_by` HASH AGGREGATE (O(1) state per group, map-side
    * partials; deliberately NOT the quota family's broadcast-winners
    * join, which on ~distinct frontier URLs would broadcast the whole
    * trigger — third-review finding);
    * across triggers, drop rows whose canonical URL the
    * [[MembershipStore]] Bloom has seen, land the survivors under the
    * producer-scoped batch-tag dir, and fold the kept URLs back in,
    * ledger-fenced exactly-once.
    *
    * Bloom one-sidedness: `seen = false` is DEFINITE, so a duplicate
    * URL is NEVER admitted twice; `seen = true` is wrong at ≤ the
    * filter's fpp — distinct URLs are over-dropped at that bounded
    * rate (the conservative direction for dedup; size
    * `expectedUrls` for the stream's lifetime and watch
    * `MembershipStore.stats`). Non-http rows carry no canonical key
    * and PASS THROUGH unfiltered — dedup them upstream by their own
    * identity if needed.
    *
    * Replay posture (the [[quotaBatch]] contract): a ledgered
    * (producer, batchId) returns before touching anything — the
    * landed output preceded the extend by construction, and
    * re-scoring against the extended store would drop the trigger's
    * own rows as seen; a crash BEFORE the extend replays
    * deterministically against the unchanged store and replaces the
    * landed tag idempotently.
    */
  def urlDedupBatch(batch: DataFrame, storePath: String,
      outDir: String, batchId: Long, expectedUrls: Long,
      seed: String, producer: String = "default",
      idCol: String = "doc_id", urlCol: String = "url",
      fpp: Double = 0.01, shards: Int = 1): Unit = {
    requireFreshColumns(batch, "urlDedupBatch",
      Seq("canon_url", "rn", "seen"))
    // the seen-set store: single-blob for bounded lifetimes, the
    // hash-sharded generation past it (VERDICT r12 #2 — the
    // single blob is read/merged driver-side and fully re-published
    // every trigger, and its BitArray caps near ~14 B items; size
    // `shards` so expectedUrls/shards stays well under that). The
    // fence key below is the ctl dir for the sharded layout.
    val sharded = shards > 1
    val fenceDir = if (sharded) s"$storePath/ctl" else storePath
    val presence = if (sharded) "meta" else "sketch"
    // layout tripwire BEFORE any scoring (review finding): flipping
    // `shards` across 1 on an existing path would read the OTHER
    // layout's presence dir as "absent", skip the seen filter, and
    // silently abandon the whole seen-set history — every known URL
    // re-admitted. Rejecting here (not at extend time) keeps the
    // fence's land-before-extend posture from landing duplicates.
    val spark = batch.sparkSession
    if (sharded)
      require(!IndexStores.hasStore(spark, s"$storePath/sketch"),
        s"urlDedupBatch: $storePath holds a SINGLE-BLOB seen-set but " +
          s"shards=$shards was requested — re-sharding re-routes " +
          "every key; rebuild the store (delete it and re-ingest)")
    else
      require(!IndexStores.hasStore(spark, s"$storePath/ctl/meta"),
        s"urlDedupBatch: $storePath holds a SHARDED seen-set but " +
          "shards=1 was requested — pass the store's shard count")
    IndexStores.fencedCurationStep(batch, fenceDir, outDir, batchId,
        producer, presence) { (b, bootstrapped) =>
      // within-trigger first-occurrence: the shared (oracle-pinned)
      // min_by winner selection — NOT the quota family's
      // broadcast-winners join: canonical URLs are ~distinct in a
      // frontier batch, so a winner table would be batch-sized and
      // broadcasting it would collect the whole trigger to the
      // driver (third-review finding)
      val deduped = firstOccurrenceByCanonUrl(b, seed, idCol, urlCol)
      val http = deduped.filter(col("canon_url").isNotNull)
      val nonHttp = deduped.filter(col("canon_url").isNull)
      // cross-trigger: the Bloom seen-set (false = definitely new)
      val fresh =
        if (bootstrapped && sharded)
          ShardedMembershipStore.seen(http, col("canon_url"), storePath)
            .filter(!col("seen")).drop("seen")
        else if (bootstrapped)
          MembershipStore.seen(http, col("canon_url"), storePath)
            .filter(!col("seen")).drop("seen")
        else http
      fresh.unionByName(nonHttp)
    } { kept =>
      val keys = kept.filter(col("canon_url").isNotNull)
      if (sharded)
        ShardedMembershipStore.extend(keys, col("canon_url"),
          storePath, batchId, expectedUrls, shards, fpp, producer)
      else
        MembershipStore.extend(keys, col("canon_url"), storePath,
          batchId, expectedUrls, fpp, producer)
    }
  }

  /** The EXACT HTML → text leg ([[graft.functions.HtmlTextScan]] —
    * VERDICT r11 #6): a quote-state char scanner closing
    * [[stripHtml]]'s two inherent regex defects (attribute-`>` leak,
    * bare-`<` prose swallowing). Byte-identical to the regex leg on
    * well-formed HTML (gate `html_strip_scan` pins that against the
    * regex-replaying oracle); on the malformed shapes it diverges
    * deliberately toward browser behavior — spec-pinned, since no
    * SQL oracle replays a scanner. Same cost class: one codegen'd
    * pass per row.
    */
  def extractHtmlText(html: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.HtmlTextScan(expression(html)))
  }

  /** Per-registrable-domain corpus profile — doc counts and size
    * share, the "which sites dominate" audit read before choosing a
    * quota. One map-side-combinable aggregate. Same fresh-column
    * guard as the quota family: a pre-decorated `domain` (e.g. a PSL
    * decoration) must not be silently overwritten — use
    * [[domainStatsBy]] to profile under that grouping instead.
    */
  def domainStats(docs: DataFrame, urlCol: String = "url",
      sizeCol: String = "n_chars"): DataFrame = {
    requireFreshColumns(docs, "domainStats", Seq("domain"))
    domainStatsBy(docs.withColumn("domain",
      registrableDomain(urlHostFused(col(urlCol)))), sizeCol)
  }

  /** [[domainStats]] over a PRECOMPUTED grouping column — the face
    * that composes with [[withRegistrableDomainPsl]] or any other
    * site key (the `By` contract the whole quota family carries).
    */
  def domainStatsBy(withDom: DataFrame, sizeCol: String = "n_chars",
      domCol: String = "domain"): DataFrame =
    withDom.groupBy(domCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol).cast("long")).as("total_chars"))
}
