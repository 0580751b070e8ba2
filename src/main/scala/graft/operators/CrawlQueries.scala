package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.PortableHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-policy operators — the fetch-side gates a crawler runs BEFORE
  * any content enters the pipeline. First member: robots.txt evaluation
  * per RFC 9309 (the Robots Exclusion Protocol), the rule every polite
  * crawl applies to its entire frontier.
  *
  * The operator is the real thing, not a lookup: robots.txt TEXT is
  * parsed line-by-line (comments stripped anywhere on the line,
  * directive names case-insensitive, values trimmed), groups are
  * assembled per the RFC (consecutive User-agent lines stack onto one
  * group; a User-agent line after rules starts a new group; rules
  * before any User-agent line belong to no group and are ignored),
  * GROUP SELECTION picks the product-token group when one matches the
  * crawler and otherwise the `*` group — exclusively, never merged —
  * and per-URL evaluation applies LONGEST-MATCH-WINS with allow
  * breaking ties, `*` matching any octet sequence and `$` anchoring
  * the pattern end. Empty rule values are no-ops per the RFC.
  *
  * Scale shape: robots documents are per-host and tiny, so the parse +
  * group assembly is a small-frame pass (the only windows partition by
  * host over a robots file's own lines); the frontier join broadcasts
  * the selected rule set and the per-URL winner window partitions by
  * URL over at most |rules| rows. At 100 TB of frontier this is one
  * broadcast join + one narrow window — no corpus shuffle at all
  * until the final per-host audit aggregate.
  */
object CrawlQueries extends QueryPack {

  /** Parse robots.txt texts into per-(host, group) agents + rules and
    * evaluate a frontier of (doc_id, host, path) rows. Exposed for
    * RobotsSpec, which drives crafted policies through every RFC rule.
    * Returns (doc_id, host, path, allowed). */
  private[graft] def evalRobots(robots: DataFrame, frontier: DataFrame): DataFrame = {
    val byLine = Window.partitionBy("host").orderBy("ln")
    // CRLF discipline: real robots.txt files routinely ship \r\n, and
    // Spark's trim() strips 0x20 ONLY — splitting on bare \n would
    // leave every agent token and pattern carrying a trailing \r, no
    // group would ever match, and the left-join default would FAIL
    // OPEN (everything allowed). Split tolerates \r\n and the trims
    // are whitespace-regexps, not trim().
    def wtrim(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^\\s+|\\s+$", "")
    val lines = robots
      .select(col("host"), posexplode(split(col("content"), "\\r?\\n")).as(Seq("ln", "raw")))
      .withColumn("line", wtrim(regexp_replace(col("raw"), "#.*", "")))
      .filter(col("line") =!= "")
      .withColumn("directive",
        lower(regexp_extract(col("line"), "^([A-Za-z-]+)\\s*:", 1)))
      .withColumn("value", wtrim(regexp_extract(col("line"), ":(.*)$", 1)))
      .withColumn("is_ua", col("directive") === "user-agent")
      .withColumn("new_group",
        col("is_ua") && !coalesce(lag("is_ua", 1).over(byLine), lit(false)))
      .withColumn("gid", sum(when(col("new_group"), 1).otherwise(0)).over(byLine))

    val groups = lines.filter(col("is_ua"))
      .groupBy("host", "gid")
      .agg(collect_set(lower(col("value"))).as("agents"))
      .withColumn("is_bot", array_contains(col("agents"), Bot))
      .withColumn("is_star", array_contains(col("agents"), "*"))
    val hostHasBot = groups.groupBy("host")
      .agg(max(col("is_bot")).as("has_bot"))

    val rules = lines
      .filter(col("directive").isin("allow", "disallow") &&
        col("value") =!= "" && col("gid") > 0) // gid 0 = rules before any UA line: ignored
      .select(col("host"), col("gid"), col("directive").as("rtype"),
        col("value").as("pat"))
      .join(groups.select("host", "gid", "is_bot", "is_star"), Seq("host", "gid"))
      .join(hostHasBot, Seq("host"))
      .filter((col("has_bot") && col("is_bot")) || (!col("has_bot") && col("is_star")))
      // Pattern → regex: per RFC 9309 only '*' (any octets) and a
      // TRAILING '$' (end anchor) are special; everything else is
      // literal. Escape every non-[a-zA-Z0-9/*] character — so '?',
      // '(', '[', '{', '+', '.', a MID-pattern '$', etc. all match
      // literally and can never produce an invalid regex — then expand
      // '*'. (The earlier dot-only escape let a real-world
      // "Disallow: /*?sessionid=" turn '?' into a quantifier.)
      .withColumn("rex", concat(
        lit("^"),
        regexp_replace(
          regexp_replace(
            when(col("pat").endsWith("$"),
              expr("substring(pat, 1, length(pat) - 1)")).otherwise(col("pat")),
            "([^a-zA-Z0-9/*])", "\\\\$1"),
          "\\*", "(.*)"),
        when(col("pat").endsWith("$"), lit("$")).otherwise(lit(""))))
      .select(col("host"), col("rtype"), col("pat"), col("rex"),
        length(col("pat")).as("plen"))

    val matches = frontier
      .join(broadcast(rules), Seq("host"))
      .filter(expr("regexp_like(path, rex)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("plen").desc, col("rtype"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("rtype"))
    frontier.join(matches, Seq("doc_id"), "left")
      .withColumn("allowed", coalesce(col("rtype") === "allow", lit(true)))
      .select("doc_id", "host", "path", "allowed")
  }

  /** The crawler's product token. */
  private[graft] val Bot = "graftbot"

  /** Closed-form robots.txt text for fixture host `h` (a Column): a
    * rules-before-any-group decoy the RFC says to ignore, an `otherbot`
    * group that must not apply, mixed-case directive names, mid-line
    * comments, blank lines, a `*` group, for EVEN hosts a `graftbot`
    * group that must then apply EXCLUSIVELY, and an empty Disallow
    * (a no-op per the RFC). */
  private def robotsText(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val star = concat(
      lit("# graft fixture\nDisallow: /everything # no group yet: ignored\n\n"),
      lit("User-Agent: otherbot\nDisallow: /\n\n"),
      lit("User-agent: *\n"),
      lit("Disallow: /private"), h, lit("/\n"),
      lit("allow: /private"), h, lit("/ok # mid-line comment\n"),
      lit("DISALLOW: /*.tmp$\n"))
    val bot = concat(
      lit("\nuser-agent: "), lit(Bot), lit("\n"),
      lit("disallow: /g"), h, lit("/\n"),
      lit("Allow: /g"), h, lit("/pub*\n"),
      lit("Disallow:\n")) // empty value: no-op
    when(h % 2 === 0, concat(star, bot)).otherwise(star)
  }

  /** Closed-form frontier path for a doc (host index `h`). The eight
    * path families exercise: no-rule default allow (0, 6), the
    * disallow prefix (1), the LONGER allow override (2), the wildcard
    * suffix rule star-dot-tmp-dollar (3), `$` anchoring strictness
    * (7, a .tmpx path, must NOT match), and on even hosts the
    * exclusive graftbot group (4
    * denied, 5 allowed by the longer wildcard allow; 1-3 revert to
    * ALLOWED because the `*` group no longer applies). */
  private def pathFor(id: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // (id div 6) decouples the family from the host index (id % 6):
    // gcd(6, 8) = 2 would otherwise confine each host to same-parity
    // families and leave half the rules untested per host.
    val p = expr("doc_id div 6") % 8
    when(p === 0, lit("/index"))
      .when(p === 1, concat(lit("/private"), h, lit("/page")))
      .when(p === 2, concat(lit("/private"), h, lit("/ok/page")))
      .when(p === 3, concat(lit("/file"), (expr("doc_id div 24") % 4).cast("string"), lit(".tmp")))
      .when(p === 4, concat(lit("/g"), h, lit("/secret")))
      .when(p === 5, concat(lit("/g"), h, lit("/pub/x")))
      .when(p === 6, concat(lit("/a/b"), h))
      .otherwise(lit("/file.tmpx"))
  }

  /** Closed-form SRT document for doc `id` (see the srt_cues query doc):
    * 2-5 cues, CRLF line endings on even ids, hour-rollover start times
    * for ids % 3 != 0, comma-millisecond timestamps, a second text line
    * on even cues, engineered overlaps (inter-cue gap is exactly
    * 1500 ms, durations run 800-3199 ms), and a trailing newline on
    * ids % 3 == 0 so the cue splitter must tolerate it. */
  private[graft] def srtOf(id: Long): String = {
    val nl = if (id % 2 == 0) "\r\n" else "\n"
    val n = (2 + id % 4).toInt
    def ts(ms: Long): String =
      f"${ms / 3600000}%02d:${ms / 60000 % 60}%02d:${ms / 1000 % 60}%02d,${ms % 1000}%03d"
    val cues = (0 until n).map { c =>
      val start = (id % 3) * 3600000L + id * 211 + c * 1500
      val dur = 800 + (id * 7 + c * 13) % 2400
      val l2 = if (c % 2 == 0) nl + "gamma delta" else ""
      s"${c + 1}$nl${ts(start)} --> ${ts(start + dur)}${nl}cue ${id % 7} alpha beta$l2"
    }
    cues.mkString(nl + nl) + (if (id % 3 == 0) nl else "")
  }

  /** Weighted directed PageRank over a host-level edge list (src, dst)
    * — multiplicities count, i.e. a host linking another 100× passes
    * 100 edge-shares. Fixed-point integer arithmetic in the
    * graph_pagerank style (ranks in 10⁻¹²-units, BIGINT floor-div +
    * order-independent sums, damping 0.85), so both engines produce
    * bit-equal ranks. Per iteration: one join of the weighted edge list
    * against the rank frame + one partial-aggregated sum on dst — the
    * standard distributed step; rank/degree frames are host-sized
    * (~10⁷ at web scale), edges corpus-sized. Hosts with no out-edges
    * would drop their mass (the remove-dangling simplification, stated);
    * the staged model has none — every page links out. Exposed for
    * HostRankSpec's crafted graphs. */
  private[graft] def hostRankOf(edges: DataFrame, iters: Int = 3): DataFrame = {
    val w = edges.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
      .localCheckpoint(eager = false) // all iterations share one extraction
    val outW = w.groupBy(col("src").as("oid")).agg(sum("w").as("wout"))
    val nodes = w.select(col("src").as("id"))
      .union(w.select(col("dst").as("id"))).distinct()
      .localCheckpoint(eager = false)
    val nb = broadcast(nodes.agg(count(lit(1)).as("n_nodes"))
      .withColumn("base", expr(
        "CAST(CASE WHEN n_nodes = 0 THEN 0 ELSE 1000000000000 DIV n_nodes END AS BIGINT)")))
    var ranks = nodes.crossJoin(nb).select(col("id"), col("base"), col("base").as("r"))
    for (_ <- 1 to iters) {
      val shares = ranks.join(outW, col("id") === col("oid"))
        .select(col("id").as("sid"), expr("r DIV wout").as("unit"))
      val incoming = w.join(shares, col("src") === col("sid"))
        .groupBy(col("dst")).agg(sum(expr("unit * w")).as("incoming"))
      ranks = nodes.crossJoin(nb)
        .join(incoming, col("id") === col("dst"), "left")
        .select(col("id"), col("base"), expr(
          "(15 * base) DIV 100 + (85 * coalesce(incoming, CAST(0 AS BIGINT))) DIV 100").as("r"))
    }
    ranks.join(outW, col("id") === col("oid"), "left")
      .select(col("id").as("host"),
        coalesce(col("wout"), lit(0L)).as("n_out"),
        col("r").as("rank_e12"))
  }

  val queries: Map[String, Q] = Map(
    // SubRip subtitle parsing — the text format video training corpora
    // pair with their frames (aligned text for ASR/captioning). The
    // staged SRT exercises what real subtitle files throw at a parser:
    // CRLF vs LF, comma-millisecond "HH:MM:SS,mmm --> ..." cue lines
    // with hour rollovers, multi-line cue text, inter-cue OVERLAPS
    // (common in broadcast subs), and trailing blank lines. The parse
    // is pure codegen'd expressions (blank-line split, per-field
    // regexp_extract, line slicing) plus one per-document lag window
    // for the overlap rule; the oracle replays the closed-form cue
    // model — a comma/dot slip, a dropped hour field, a CRLF bug or an
    // off-by-one in the text slice each shifts a sum.
    "text_srt_cues" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val staged = Tables.documents(s, d)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .mapPartitions(_.map { case (id, src) => (id, src, srtOf(id)) })
        .toDF("doc_id", "source", "srt")
      def tsMs(line: org.apache.spark.sql.Column, pre: String): org.apache.spark.sql.Column = {
        def g(i: Int) = regexp_extract(line,
          s"$pre(\\d+):(\\d+):(\\d+),(\\d+)", i).cast("long")
        g(1) * 3600000L + g(2) * 60000L + g(3) * 1000L + g(4)
      }
      val cues = staged
        .select(col("doc_id"), col("source"),
          explode(split(col("srt"), "\\r?\\n\\r?\\n")).as("seg"))
        // NOT trim(): Spark's trim strips 0x20 only — the trailing-newline
        // document would keep a phantom empty line and inflate the
        // multiline/token counts.
        .select(col("doc_id"), col("source"),
          regexp_replace(col("seg"), "^\\s+|\\s+$", "").as("cue"))
        .filter(col("cue") =!= "")
        .withColumn("lines", split(col("cue"), "\\r?\\n"))
        .withColumn("idx", element_at(col("lines"), 1).cast("long"))
        .withColumn("start_ms", tsMs(element_at(col("lines"), 2), "^"))
        .withColumn("end_ms", tsMs(element_at(col("lines"), 2), "--> "))
        .withColumn("text", array_join(expr("slice(lines, 3, 1000)"), " "))
        .withColumn("n_text_lines", size(col("lines")) - 2)
        .withColumn("tokens", size(split(col("text"), " ")))
        .withColumn("prev_end", lag("end_ms", 1).over(
          Window.partitionBy("doc_id").orderBy("idx")))
        .withColumn("overlap",
          coalesce(col("start_ms") < col("prev_end"), lit(false)))
      cues.groupBy("source")
        .agg(
          countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("cues_sum"),
          sum("idx").as("idx_sum"),
          sum(col("end_ms") - col("start_ms")).as("dur_sum"),
          max("end_ms").as("max_end_ms"),
          sum(when(col("n_text_lines") >= 2, 1L).otherwise(0L)).as("multiline_sum"),
          sum(when(col("overlap"), 1L).otherwise(0L)).as("overlap_sum"),
          sum(col("tokens").cast("long")).as("token_sum"))
        .orderBy("source")
    }),

    // XML record ingest via Spark 4's native from_xml — the sitemap/
    // feed shape a crawler consumes. The staged records exercise the
    // XML features that break naive string parsers: an ATTRIBUTE on
    // the root element (schema field _id), an ENTITY in element text
    // (&amp; must decode to & — the checksum is over the DECODED url),
    // a CDATA section whose raw '<' and '&' are NOT markup, and a
    // REPEATED element mapped to an array field. The record strings
    // are pure concat arithmetic; the oracle replays the decoded
    // model, so from_xml's entity/CDATA/attribute handling is what's
    // under test.
    "xml_ingest" -> ((s, d) => {
      val id = col("doc_id")
      val tags = when(id % 3 === 0, lit("<t>tag0</t>"))
        .when(id % 3 === 1, lit("<t>tag0</t><t>tag1</t>"))
        .otherwise(lit("<t>tag0</t><t>tag1</t><t>tag2</t>"))
      val xml = concat(
        lit("<page id=\""), id.cast("string"), lit("\"><loc>http://h"),
        (id % 5).cast("string"), lit(".example/p"), (id % 9).cast("string"),
        lit("?a=1&amp;b=2</loc><score>"), (id % 10).cast("string"),
        lit(".5</score><note><![CDATA[x < y & z]]></note><tags>"),
        tags, lit("</tags></page>"))
      val schema = "STRUCT<_id: BIGINT, loc: STRING, score: DOUBLE, " +
        "note: STRING, tags: STRUCT<t: ARRAY<STRING>>>"
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), xml.as("xml"))
        .withColumn("r", expr(s"from_xml(xml, '$schema')"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("r._id")).as("id_sum"),
          sum(PortableHash.h60p(col("r.loc"))).as("loc_checksum"),
          sum((col("r.score") * 10).cast("long")).as("score_q_sum"),
          sum(length(col("r.note")).cast("long")).as("note_len_sum"),
          sum(size(col("r.tags.t")).cast("long")).as("tag_count_sum"))
        .orderBy("source")
    }),

    // The COMPOSED crawl-frontier pipeline — the crawl-side analogue of
    // pipeline_clean_corpus: sitemap XML records (Spark 4 from_xml, the
    // &amp; entity live in every loc) → URL canonicalization
    // (DedupQueries.canonicalUrls undoes scheme/host case, :80 default
    // ports, doubled slashes, utm_* params and fragments) → exact
    // frontier dedup on the canonical form (min doc_id representative)
    // → RFC 9309 robots evaluation of the canonical path against the
    // same per-host policies as crawl_robots_filter (graftbot groups on
    // even hosts) → a PER-HOST POLITENESS BUDGET (top-7 by h60 hash
    // order — the deterministic fetch-queue cut every crawler applies).
    // Each stage reuses its standalone gate's exact logic, so this pins
    // the COMPOSITION; the per-host funnel makes every stage's drop
    // cost auditable in one row. Scale: map-only XML+canonicalization,
    // one uniform-key dedup groupBy, a broadcast rules join, and one
    // per-host ranking window over an already-deduped frontier.
    "crawl_frontier_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val id = col("doc_id")
      val h = (id % 6).cast("string")
      // Messy sitemap locs: entity-encoded query ampersand, scheme and
      // host case noise, default port, a doubled leading slash, utm
      // params, fragments.
      val loc = concat(
        when(id % 3 === 0, lit("HTTP")).otherwise(lit("http")),
        lit("://"),
        when(id % 2 === 0, concat(lit("H"), h, lit(".EXAMPLE")))
          .otherwise(concat(lit("h"), h, lit(".example"))),
        when(id % 4 === 1, lit(":80")).otherwise(lit("")),
        when(id % 5 === 0, lit("/")).otherwise(lit("")), // doubles the path's slash
        pathFor(id, h),
        lit("?a=1"),
        when(id % 2 === 0, lit("&amp;utm_source=track")).otherwise(lit("")),
        when(id % 7 === 0, lit("#frag")).otherwise(lit("")))
      val xml = concat(lit("<url><loc>"), loc, lit("</loc></url>"))
      val parsed = Tables.documents(s, d)
        .select(id.as("doc_id"), xml.as("xml"))
        .select(col("doc_id"),
          expr("from_xml(xml, 'STRUCT<loc: STRING>')").getField("loc").as("url"))
      val canon = graft.operators.DedupQueries.canonicalUrls(parsed)
      val deduped = canon.groupBy("canonical_url")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
        .withColumn("host", expr("parse_url(canonical_url, 'HOST')"))
        .withColumn("path", expr("parse_url(canonical_url, 'PATH')"))
      val robots = Tables.documents(s, d)
        .select((col("doc_id") % 6).as("hh")).distinct()
        .select(concat(lit("h"), col("hh").cast("string"), lit(".example")).as("host"),
          robotsText(col("hh")).as("content"))
      val decided = evalRobots(robots,
          deduped.select("doc_id", "host", "path"))
        .join(deduped.select("doc_id", "canonical_url", "n_dups"), Seq("doc_id"))
      // One pass, not two: the politeness cut and the per-host funnel
      // both group by host, so ranking allowed rows FIRST inside a
      // single host-partitioned window (allowed is never null — see
      // evalRobots' coalesce) makes an allowed row's rk equal its rank
      // among the host's allowed rows, and the fetch columns become
      // conditional aggregates of the same groupBy that computes the
      // funnel. This halves the plan (the decided subtree used to be
      // evaluated once per join side) and the window's host exchange is
      // the aggregation's exchange.
      val ranked = decided.withColumn("rk",
        row_number().over(Window.partitionBy("host")
          .orderBy(col("allowed").desc,
            PortableHash.h60(col("canonical_url")), col("canonical_url"))))
      val isFetch = col("allowed") && col("rk") <= 7
      ranked.groupBy("host")
        .agg(
          sum("n_dups").as("n_raw"),
          count(lit(1)).as("n_canonical"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(isFetch, 1L).otherwise(0L)).as("n_fetch"),
          sum(when(isFetch, PortableHash.h60p(col("canonical_url")))
            .otherwise(0L)).as("fetch_checksum"))
        .orderBy("host")
    }),

    // Hyperlink extraction + RFC 3986 resolution + host-level link graph
    // — the step that grows a crawl frontier and feeds link-based quality
    // signals. Pages are staged HTML whose links exercise all five
    // reference forms (absolute, scheme-relative, absolute-path,
    // same-directory, ../ traversal — the last three must resolve
    // against the page URL with real remove_dot_segments), fragments
    // that must strip, an &amp;-escaped query that must unescape,
    // quote/case/unquoted attribute variation, a commented-out link and
    // a no-href anchor that must NOT extract, and an empty-href
    // self-reference (same-document per §5.3). The oracle replays the
    // closed-form resolved-link model — it never parses HTML — so any
    // extractor or resolver slip shifts a degree count or the checksum.
    // Scale: extraction is map-only; the edge list shuffles once on host.
    "crawl_link_graph" -> ((s, d) => {
      val edges = LinkGraph.edgesOf(s, LinkGraph.pagesStaged(s, d))
        .localCheckpoint(eager = false) // in/out audits share one parse
      val out = edges.groupBy(col("src_host").as("host")).agg(
        count(lit(1)).as("n_out"),
        sum(when(col("dst_host") === col("src_host"), 1L).otherwise(0L)).as("n_self"),
        countDistinct(col("dst_host")).as("n_dst_hosts"),
        sum(PortableHash.h60p(col("dst_url"))).as("url_checksum"))
      val in = edges.groupBy(col("dst_host").as("host")).agg(
        count(lit(1)).as("n_in"))
      out.join(in, Seq("host"), "full_outer")
        .na.fill(0L, Seq("n_out", "n_self", "n_dst_hosts", "url_checksum", "n_in"))
        .orderBy("host")
    }),

    // Host authority from the link graph — the ranking signal crawl
    // schedulers and quality filters consume (OPIC/PageRank-prioritized
    // frontiers): the SAME extraction + resolution as crawl_link_graph
    // feeds a weighted directed PageRank over host→host edges, 3 power
    // iterations of exact integer arithmetic (see hostRankOf), so the
    // oracle replays the closed-form edge model through three unrolled
    // iteration CTEs and must land on bit-equal 10⁻¹²-unit ranks. Any
    // slip anywhere — extraction, resolution, edge weights, the damping
    // arithmetic — shifts some host's rank integer.
    "crawl_host_rank" -> ((s, d) =>
      hostRankOf(LinkGraph.edgesOf(s, LinkGraph.pagesStaged(s, d))
        .select(col("src_host").as("src"), col("dst_host").as("dst")))
        .orderBy("host")),

    // RFC 9309 robots.txt evaluation over a synthetic frontier: six
    // hosts' policies are staged as TEXT (decoy pre-group rule,
    // non-matching otherbot group, mixed-case directives, comments, a
    // `*` group, and on even hosts a `graftbot` group that applies
    // exclusively), parsed and evaluated by the real operator; the
    // oracle never parses text — it replays the EFFECTIVE per-host
    // rule model and the same longest-match logic, so any slip in
    // parsing, group assembly or selection changes some host's
    // allowed/denied split or the denied checksum.
    "crawl_robots_filter" -> ((s, d) => {
      val h = col("doc_id") % 6
      val frontier = Tables.documents(s, d).select(
        col("doc_id"),
        concat(lit("h"), h.cast("string")).as("host"),
        pathFor(col("doc_id"), h.cast("string")).as("path"))
      val robots = Tables.documents(s, d)
        .select((col("doc_id") % 6).as("hh")).distinct()
        .select(concat(lit("h"), col("hh").cast("string")).as("host"),
          robotsText(col("hh")).as("content"))
      evalRobots(robots, frontier)
        .groupBy("host")
        .agg(
          count(lit(1)).as("n_urls"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!col("allowed"), 1L).otherwise(0L)).as("n_denied"),
          coalesce(sum(when(!col("allowed"),
            PortableHash.h60p(col("doc_id").cast("string")))), lit(0L))
            .as("denied_checksum"))
        .orderBy("host")
    }))

  /** The closed-form resolved-link edge model (CTEs `lk`, `edges`)
    * shared by the crawl_link_graph and crawl_host_rank oracles:
    * targets, the five resolution outcomes (forms 2-4 land on the
    * SOURCE host with the merged path), the unescaped query, and the
    * empty-href self rows. */
  private val lgEdgesCte: String =
    """lk AS (SELECT d.doc_id AS id, k.range AS k,
                             (d.doc_id*7 + k.range*13 + 1) % 997 AS t
                      FROM documents d, range(5) k
                      WHERE k.range < (d.doc_id % 4) + 2),
            edges AS (
              SELECT id,
                     'h' || CAST(id % 7 AS VARCHAR) || '.test' AS src_host,
                     CASE (id + k) % 5
                       WHEN 0 THEN 'http://h' || CAST(t % 7 AS VARCHAR) || '.test/a' || CAST(t % 3 AS VARCHAR)
                                    || '/b' || CAST(t % 5 AS VARCHAR) || '/p' || CAST(t AS VARCHAR) || '.html'
                                    || CASE WHEN (id + k) % 6 = 0 THEN '?x=1&y=2' ELSE '' END
                       WHEN 1 THEN 'http://h' || CAST(t % 7 AS VARCHAR) || '.test/a' || CAST(t % 3 AS VARCHAR)
                                    || '/b' || CAST(t % 5 AS VARCHAR) || '/p' || CAST(t AS VARCHAR) || '.html'
                       WHEN 2 THEN 'http://h' || CAST(id % 7 AS VARCHAR) || '.test/a' || CAST(t % 3 AS VARCHAR)
                                    || '/b' || CAST(t % 5 AS VARCHAR) || '/p' || CAST(t AS VARCHAR) || '.html'
                       WHEN 3 THEN 'http://h' || CAST(id % 7 AS VARCHAR) || '.test/a' || CAST(id % 3 AS VARCHAR)
                                    || '/b' || CAST(id % 5 AS VARCHAR) || '/p' || CAST(t AS VARCHAR) || '.html'
                       ELSE 'http://h' || CAST(id % 7 AS VARCHAR) || '.test/a' || CAST(id % 3 AS VARCHAR)
                                    || '/c' || CAST(t % 3 AS VARCHAR) || '/q' || CAST(t AS VARCHAR) || '.html'
                     END AS dst_url,
                     CASE WHEN (id + k) % 5 IN (0, 1)
                          THEN 'h' || CAST(t % 7 AS VARCHAR) || '.test'
                          ELSE 'h' || CAST(id % 7 AS VARCHAR) || '.test' END AS dst_host
              FROM lk
              UNION ALL
              SELECT doc_id, 'h' || CAST(doc_id % 7 AS VARCHAR) || '.test',
                     'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.test/a' || CAST(doc_id % 3 AS VARCHAR)
                      || '/b' || CAST(doc_id % 5 AS VARCHAR) || '/p' || CAST(doc_id AS VARCHAR) || '.html',
                     'h' || CAST(doc_id % 7 AS VARCHAR) || '.test'
              FROM documents WHERE doc_id % 11 = 0)"""

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    // The cue model replayed from doc_id arithmetic — the oracle never
    // sees SRT text, so every parsed field (timestamps incl. hours,
    // indices, text slices, overlap lags) must be re-derived correctly
    // by the Spark parse for the sums to land.
    "text_srt_cues" ->
      """WITH c AS (SELECT doc_id AS id, source, unnest(range(2 + doc_id % 4)) AS c
                    FROM documents),
            m AS (SELECT id, source, c,
                         (id % 3) * 3600000 + id * 211 + c * 1500 AS start_ms,
                         800 + (id * 7 + c * 13) % 2400 AS dur
                  FROM c),
            m2 AS (SELECT id, source, c, dur, start_ms + dur AS end_ms,
                          CASE WHEN c % 2 = 0 THEN 1 ELSE 0 END AS multi,
                          4 + CASE WHEN c % 2 = 0 THEN 2 ELSE 0 END AS toks,
                          CASE WHEN c >= 1 AND (800 + (id * 7 + (c - 1) * 13) % 2400) > 1500
                               THEN 1 ELSE 0 END AS ovl
                   FROM m)
          SELECT source, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS cues_sum,
                 CAST(SUM(c + 1) AS BIGINT) AS idx_sum,
                 CAST(SUM(dur) AS BIGINT) AS dur_sum,
                 CAST(MAX(end_ms) AS BIGINT) AS max_end_ms,
                 CAST(SUM(multi) AS BIGINT) AS multiline_sum,
                 CAST(SUM(ovl) AS BIGINT) AS overlap_sum,
                 CAST(SUM(toks) AS BIGINT) AS token_sum
          FROM m2 GROUP BY 1 ORDER BY source""",
    // The DECODED record model: loc carries a raw & (the entity must
    // decode), note is the CDATA body's 9 characters, scores are exact
    // halves (x.5 doubles are exact, so the x10 quantization is safe).
    "xml_ingest" ->
      s"""WITH m AS (SELECT doc_id AS id, source,
                            'http://h' || (doc_id % 5) || '.example/p' ||
                              (doc_id % 9) || '?a=1&b=2' AS loc,
                            (doc_id % 10) * 10 + 5 AS score_q,
                            1 + doc_id % 3 AS ntags
                     FROM documents)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(id) AS BIGINT) AS id_sum,
                 CAST(SUM(${PortableHash.h60pSql("loc")}) AS BIGINT) AS loc_checksum,
                 CAST(SUM(score_q) AS BIGINT) AS score_q_sum,
                 CAST(SUM(9) AS BIGINT) AS note_len_sum,
                 CAST(SUM(ntags) AS BIGINT) AS tag_count_sum
          FROM m GROUP BY 1 ORDER BY source""",
    // The frontier pipeline replayed end-to-end from the model: the
    // canonical form is closed-form (the noise the canonicalizer must
    // undo never appears), dedup is a GROUP BY over it, robots reuses
    // the effective-rule replay, and the budget is the same h60-ranked
    // top-10 window.
    "crawl_frontier_pipeline" ->
      s"""WITH hosts AS (SELECT unnest(range(6)) AS h),
            rules AS (
              SELECT h, 'disallow' AS rtype, '/private' || h || '/' AS pat FROM hosts WHERE h % 2 = 1
              UNION ALL SELECT h, 'allow', '/private' || h || '/ok' FROM hosts WHERE h % 2 = 1
              UNION ALL SELECT h, 'disallow', '/*.tmp$$' FROM hosts WHERE h % 2 = 1
              UNION ALL SELECT h, 'disallow', '/g' || h || '/' FROM hosts WHERE h % 2 = 0
              UNION ALL SELECT h, 'allow', '/g' || h || '/pub*' FROM hosts WHERE h % 2 = 0),
            rx AS (SELECT h, rtype, length(pat) AS plen,
                          '^' || CASE WHEN pat LIKE '%$$'
                                 THEN replace(replace(substr(pat, 1, length(pat) - 1), '.', '[.]'), '*', '(.*)') || '$$'
                                 ELSE replace(replace(pat, '.', '[.]'), '*', '(.*)') END AS rex
                   FROM rules),
            f AS (SELECT doc_id, doc_id % 6 AS h,
                         CASE CAST((doc_id // 6) % 8 AS INT)
                              WHEN 0 THEN '/index'
                              WHEN 1 THEN '/private' || (doc_id % 6) || '/page'
                              WHEN 2 THEN '/private' || (doc_id % 6) || '/ok/page'
                              WHEN 3 THEN '/file' || ((doc_id // 24) % 4) || '.tmp'
                              WHEN 4 THEN '/g' || (doc_id % 6) || '/secret'
                              WHEN 5 THEN '/g' || (doc_id % 6) || '/pub/x'
                              WHEN 6 THEN '/a/b' || (doc_id % 6)
                              ELSE '/file.tmpx' END AS path
                  FROM documents),
            ded AS (SELECT 'http://h' || h || '.example' || path || '?a=1' AS canon,
                           h, path, COUNT(*) AS n_dups
                    FROM f GROUP BY 1, 2, 3),
            m AS (SELECT ded.canon, r.rtype,
                         ROW_NUMBER() OVER (PARTITION BY ded.canon
                           ORDER BY r.plen DESC, r.rtype) AS rk
                  FROM ded JOIN rx r ON r.h = ded.h AND regexp_matches(ded.path, r.rex)),
            dec AS (SELECT ded.canon, ded.h, ded.n_dups,
                           COALESCE(w.rtype = 'allow', TRUE) AS allowed
                    FROM ded LEFT JOIN (SELECT canon, rtype FROM m WHERE rk = 1) w
                    USING (canon)),
            bud AS (SELECT canon, h,
                           ROW_NUMBER() OVER (PARTITION BY h
                             ORDER BY ${PortableHash.h60Sql("canon")}, canon) AS rk
                    FROM dec WHERE allowed),
            agg1 AS (SELECT h, CAST(SUM(n_dups) AS BIGINT) AS n_raw,
                            CAST(COUNT(*) AS BIGINT) AS n_canonical,
                            CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed
                     FROM dec GROUP BY 1),
            agg2 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_fetch,
                            CAST(SUM(${PortableHash.h60pSql("canon")}) AS BIGINT) AS fetch_checksum
                     FROM bud WHERE rk <= 7 GROUP BY 1)
          SELECT 'h' || h || '.example' AS host, n_raw, n_canonical, n_allowed,
                 CAST(COALESCE(n_fetch, 0) AS BIGINT) AS n_fetch,
                 CAST(COALESCE(fetch_checksum, 0) AS BIGINT) AS fetch_checksum
          FROM agg1 LEFT JOIN agg2 USING (h) ORDER BY host""",
    // The resolved-link model replayed closed-form (see lgEdgesCte).
    "crawl_link_graph" ->
      s"""WITH $lgEdgesCte,
            o AS (SELECT src_host AS host, CAST(COUNT(*) AS BIGINT) AS n_out,
                         CAST(SUM(CASE WHEN dst_host = src_host THEN 1 ELSE 0 END) AS BIGINT) AS n_self,
                         CAST(COUNT(DISTINCT dst_host) AS BIGINT) AS n_dst_hosts,
                         CAST(SUM(${PortableHash.h60pSql("dst_url")}) AS BIGINT) AS url_checksum
                  FROM edges GROUP BY src_host),
            i AS (SELECT dst_host AS host, CAST(COUNT(*) AS BIGINT) AS n_in
                  FROM edges GROUP BY dst_host)
         SELECT COALESCE(o.host, i.host) AS host,
                COALESCE(n_out, 0) AS n_out, COALESCE(n_self, 0) AS n_self,
                COALESCE(n_dst_hosts, 0) AS n_dst_hosts,
                COALESCE(url_checksum, 0) AS url_checksum,
                COALESCE(n_in, 0) AS n_in
         FROM o FULL OUTER JOIN i ON o.host = i.host ORDER BY 1""",
    // The same edge model feeding three unrolled weighted-PageRank
    // iterations in the exact integer arithmetic of hostRankOf: every
    // step a BIGINT floor-div ('//' here, DIV on the Spark side — both
    // truncate toward -inf on these all-positive values) or an
    // order-independent BIGINT sum, so the 10⁻¹²-unit ranks must be
    // bit-equal.
    "crawl_host_rank" ->
      s"""WITH $lgEdgesCte,
            w AS (SELECT src_host AS src, dst_host AS dst,
                         CAST(COUNT(*) AS BIGINT) AS w
                  FROM edges GROUP BY 1, 2),
            ow AS (SELECT src AS id, SUM(w) AS wout FROM w GROUP BY 1),
            nodes AS (SELECT DISTINCT id FROM
                        (SELECT src AS id FROM w UNION ALL SELECT dst FROM w)),
            nb AS (SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS base
                   FROM nodes),
            s1 AS (SELECT w.dst, SUM((b.base // ow.wout) * w.w) AS inc
                   FROM w CROSS JOIN nb b JOIN ow ON ow.id = w.src GROUP BY 1),
            r1 AS (SELECT n.id, (15*b.base)//100 + (85*COALESCE(s.inc, 0))//100 AS r
                   FROM nodes n CROSS JOIN nb b LEFT JOIN s1 s ON s.dst = n.id),
            s2 AS (SELECT w.dst, SUM((r.r // ow.wout) * w.w) AS inc
                   FROM w JOIN r1 r ON r.id = w.src JOIN ow ON ow.id = w.src GROUP BY 1),
            r2 AS (SELECT n.id, (15*b.base)//100 + (85*COALESCE(s.inc, 0))//100 AS r
                   FROM nodes n CROSS JOIN nb b LEFT JOIN s2 s ON s.dst = n.id),
            s3 AS (SELECT w.dst, SUM((r.r // ow.wout) * w.w) AS inc
                   FROM w JOIN r2 r ON r.id = w.src JOIN ow ON ow.id = w.src GROUP BY 1),
            r3 AS (SELECT n.id, (15*b.base)//100 + (85*COALESCE(s.inc, 0))//100 AS r
                   FROM nodes n CROSS JOIN nb b LEFT JOIN s3 s ON s.dst = n.id)
         SELECT r3.id AS host, CAST(COALESCE(ow.wout, 0) AS BIGINT) AS n_out,
                CAST(r3.r AS BIGINT) AS rank_e12
         FROM r3 LEFT JOIN ow ON ow.id = r3.id ORDER BY host""",

    "crawl_robots_filter" ->
      s"""WITH hosts AS (SELECT unnest(range(6)) AS h),
            rules AS (
              SELECT h, 'disallow' AS rtype, '/private' || h || '/' AS pat FROM hosts WHERE h % 2 = 1
              UNION ALL SELECT h, 'allow', '/private' || h || '/ok' FROM hosts WHERE h % 2 = 1
              UNION ALL SELECT h, 'disallow', '/*.tmp$$' FROM hosts WHERE h % 2 = 1
              UNION ALL SELECT h, 'disallow', '/g' || h || '/' FROM hosts WHERE h % 2 = 0
              UNION ALL SELECT h, 'allow', '/g' || h || '/pub*' FROM hosts WHERE h % 2 = 0),
            rx AS (SELECT h, rtype, length(pat) AS plen,
                          '^' || CASE WHEN pat LIKE '%$$'
                                 THEN replace(replace(substr(pat, 1, length(pat) - 1), '.', '[.]'), '*', '(.*)') || '$$'
                                 ELSE replace(replace(pat, '.', '[.]'), '*', '(.*)') END AS rex
                   FROM rules),
            f AS (SELECT doc_id, doc_id % 6 AS h, 'h' || (doc_id % 6) AS host,
                         CASE CAST((doc_id // 6) % 8 AS INT)
                              WHEN 0 THEN '/index'
                              WHEN 1 THEN '/private' || (doc_id % 6) || '/page'
                              WHEN 2 THEN '/private' || (doc_id % 6) || '/ok/page'
                              WHEN 3 THEN '/file' || ((doc_id // 24) % 4) || '.tmp'
                              WHEN 4 THEN '/g' || (doc_id % 6) || '/secret'
                              WHEN 5 THEN '/g' || (doc_id % 6) || '/pub/x'
                              WHEN 6 THEN '/a/b' || (doc_id % 6)
                              ELSE '/file.tmpx' END AS path
                  FROM documents),
            m AS (SELECT f.doc_id, r.rtype,
                         ROW_NUMBER() OVER (PARTITION BY f.doc_id
                           ORDER BY r.plen DESC, r.rtype) AS rk
                  FROM f JOIN rx r ON r.h = f.h AND regexp_matches(f.path, r.rex)),
            dec AS (SELECT f.doc_id, f.host,
                           COALESCE(w.rtype = 'allow', TRUE) AS allowed
                    FROM f LEFT JOIN (SELECT doc_id, rtype FROM m WHERE rk = 1) w
                    USING (doc_id))
          SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls,
                 CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
                 CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT) AS n_denied,
                 CAST(COALESCE(SUM(CASE WHEN NOT allowed THEN ${PortableHash.h60pSql("CAST(doc_id AS VARCHAR)")} END), 0) AS BIGINT) AS denied_checksum
          FROM dec GROUP BY host ORDER BY host""")
}
