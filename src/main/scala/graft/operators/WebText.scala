package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Web-crawl text extraction + domain-level admission — the front door
  * of a crawl-to-corpus pipeline (the step every web-scale training-data
  * build runs before any dedup/quality operator sees a document).
  *
  * [[extractContent]] strips markup boilerplate (script/style payloads,
  * nav/footer chrome, tags, character entities) down to clean text.
  * Pure Column expressions — regexes restricted to the Java∩RE2 dialect
  * subset (single-line inputs, so no dotall flag divergence), literal
  * `replace` for entities — so the DuckDB twin runs the identical
  * pipeline and the gate verifies cross-engine extraction semantics.
  * Map-only: zero shuffles at any corpus size.
  *
  * [[domainReputation]] is the two-level admission rule (C4/Gopher-style
  * domain filtering): per-source document-quality keep rates decide
  * which SOURCES are reputable, and a document is admitted only if it
  * passes the quality funnel AND its source does. The per-source
  * aggregate is #sources rows (control-plane sized at any corpus scale)
  * and rejoins the corpus broadcast — one doc-side shuffle for the
  * per-source partial-agg counts, no doc×doc work. Thresholds are
  * compared by integer cross-multiplication (kept·100 ≥ total·pct), so
  * the verdict is exact in both engines.
  */
object WebText {

  /** Minimum per-source funnel keep rate (percent) for a source to be
    * reputable. Compared as kept*100 >= total*pct — no division. */
  val RepMinKeepPct = 80

  /** Deterministic single-line HTML wrapping of a document — the
    * fixture half of the extraction gate: title + script + style + nav
    * chrome, content (h1 with a planted `&amp;` entity + paragraph),
    * and an entity-bearing footer. Both engines build the identical
    * string from the same raw columns. */
  def syntheticHtml(docId: Column, source: Column, text: Column): Column =
    concat(
      lit("<html><head><title>"), source, lit(" #"), docId.cast("string"),
      lit("</title><script type=\"text/javascript\">var page="),
      docId.cast("string"), lit(";track(page);</script>"),
      lit("<style>.nav{color:#888}</style></head><body>"),
      lit("<nav><ul><li>Home</li><li>Docs</li><li>About</li></ul></nav>"),
      lit("<div class=\"content\"><h1>"), source, lit(" #"),
      docId.cast("string"), lit(" &amp; friends</h1><p>"), text,
      lit("</p></div><footer>&copy; 2026 "), source,
      lit(" &#8212; all rights reserved</footer></body></html>"))

  /** `<title>` payload (first match; empty string when absent). */
  def extractTitle(html: Column): Column =
    regexp_extract(html, "<title>([^<]*)</title>", 1)

  /** Boilerplate zones whose PAYLOAD is dropped (not just the tags). */
  val ZoneTags: Seq[String] = Seq("head", "script", "style", "nav", "footer")

  /** `<tag …>…</tag>`, attribute list whitespace-led so `<head>` never
    * swallows `<header>` (Java∩RE2 dialect). */
  private def zonePattern(tag: String): String =
    s"<$tag(\\s[^>]*)?>.*?</$tag>"

  /** Boilerplate-stripped page text: drop the head (title/meta are
    * metadata, not body text), script/style payloads, and nav/footer
    * chrome zones, flatten remaining tags to spaces, decode the HTML4
    * core entities (`&amp;` last, so `&amp;lt;` does not
    * double-decode), collapse whitespace. Zone patterns require a
    * whitespace-led attribute list (`<nav>` / `<nav class=…>`, never
    * `<navigation>`); non-greedy matching is safe single-line (the
    * fixture builder emits no newlines; on real crawls normalize
    * newlines first). */
  def extractContent(html: Column): Column = {
    val zones = ZoneTags
      .foldLeft(html)((c, tag) =>
        regexp_replace(c, zonePattern(tag), " "))
    val untagged = regexp_replace(zones, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(untagged) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Wrap → extract → self-check: `roundtrip_ok` compares the extracted
    * text against the clean form computed straight from the raw columns
    * (title-cased h1 prefix + whitespace-normalized body), proving the
    * extractor recovered the content and dropped ONLY boilerplate. */
  def qHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val html = syntheticHtml(col("doc_id"), col("source"), col("text"))
    val expected = concat(col("source"), lit(" #"), col("doc_id").cast("string"),
      lit(" & friends "), trim(regexp_replace(col("text"), "\\s+", " ")))
    docs
      .withColumn("html", html)
      .withColumn("extracted", extractContent(col("html")))
      .select(
        col("doc_id"), col("source"),
        extractTitle(col("html")).as("title"),
        length(col("html")).as("html_chars"),
        length(col("extracted")).as("extracted_chars"),
        md5(col("extracted")).as("content_hash"),
        (col("extracted") === expected).as("roundtrip_ok"))
      .orderBy(col("doc_id"))
  }

  def oHtmlExtract: String = {
    // the identical construction; || casts BIGINT via explicit CAST
    val html =
      """'<html><head><title>' || source || ' #' || CAST(doc_id AS VARCHAR)
        | || '</title><script type="text/javascript">var page='
        | || CAST(doc_id AS VARCHAR) || ';track(page);</script>'
        | || '<style>.nav{color:#888}</style></head><body>'
        | || '<nav><ul><li>Home</li><li>Docs</li><li>About</li></ul></nav>'
        | || '<div class="content"><h1>' || source || ' #'
        | || CAST(doc_id AS VARCHAR) || ' &amp; friends</h1><p>' || text
        | || '</p></div><footer>&copy; 2026 ' || source
        | || ' &#8212; all rights reserved</footer></body></html>'"""
        .stripMargin.replace("\n", "")
    val zones = ZoneTags
      .foldLeft("html")((c, t) =>
        s"regexp_replace($c, '<$t(\\s[^>]*)?>.*?</$t>', ' ', 'g')")
    val untagged = s"regexp_replace($zones, '<[^>]+>', ' ', 'g')"
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "''",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(untagged) { case (c, (e, ch)) => s"replace($c, '$e', '$ch')" }
    raw"""WITH h AS (SELECT doc_id, source, text, $html AS html FROM documents),
      |e AS (
      |  SELECT doc_id, source, text, html,
      |    trim(regexp_replace($decoded, '\s+', ' ', 'g')) AS extracted
      |  FROM h)
      |SELECT doc_id, source,
      |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
      |  CAST(length(html) AS INTEGER) AS html_chars,
      |  CAST(length(extracted) AS INTEGER) AS extracted_chars,
      |  md5(extracted) AS content_hash,
      |  extracted = (source || ' #' || CAST(doc_id AS VARCHAR)
      |    || ' & friends ' || trim(regexp_replace(text, '\s+', ' ', 'g')))
      |    AS roundtrip_ok
      |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Per-source reputation + per-doc admission. One corpus-side shuffle
    * (the per-source counts, partial-agg'd map-side to #sources rows);
    * the reputation table rejoins broadcast. At 100 TB the funnel
    * signals dominate cost and are computed once, feeding both levels. */
  def domainReputation(docs: DataFrame): DataFrame = {
    // r17: the verdict frame feeds BOTH the per-source reputation
    // aggregate and the doc-grain join leg — un-cached, the full text
    // funnel (tokenize + shingle + 4 quality scans) ran twice (2
    // documents scans in the before plan). The verdict is 3 slim
    // columns per doc; cache it and pay the funnel once.
    val verd = Curation.funnelVerdict(docs)
      .select(col("doc_id"), col("source"), col("keep").as("doc_keep"))
    Settle.using(verd)(Settle.shared {
    val rep = verd.groupBy(col("source")).agg(
        count(lit(1)).as("source_total"),
        count_if(col("doc_keep")).as("source_kept"))
      .withColumn("source_reputable",
        col("source_kept") * 100 >= col("source_total") * RepMinKeepPct)
    verd.join(broadcast(rep), Seq("source"))
      .withColumn("admitted", col("doc_keep") && col("source_reputable"))
      .select(col("doc_id"), col("source"), col("doc_keep"),
        col("source_total"), col("source_kept"), col("source_reputable"),
        col("admitted"))
    })
  }

  def qDomainReputation(spark: SparkSession, dir: String): DataFrame =
    domainReputation(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Twin: the funnel-verdict CTEs (shared thresholds interpolated from
    * TextFns — the single source of truth) + per-source counts + the
    * integer cross-multiplied reputation rule. */
  def oDomainReputation: String =
    raw"""WITH w AS (
      |  SELECT doc_id, source, text,
      |         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |sq AS (
      |  SELECT doc_id, source, text, ws, CASE WHEN len(ws) >= 3
      |    THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
      |    ELSE [array_to_string(ws, ' ')] END AS seq FROM w),
      |v AS (
      |  SELECT doc_id, source,
      |    (CAST(length(text) AS INTEGER) >= ${TextFns.QualityMinChars}
      |     AND CAST(length(text) AS INTEGER) <= ${TextFns.QualityMaxChars}
      |     AND len(list_filter(ws, x -> list_contains(['the','a','of','and','is','to','in'], x)))
      |         / len(ws) >= ${TextFns.QualityMinStopwordRatio}
      |     AND len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / length(text)
      |         <= ${TextFns.QualityMaxPunctRatio}
      |     AND 1.0 - CAST(len(list_distinct(seq)) AS DOUBLE) / len(seq)
      |         <= ${TextFns.QualityMaxRepetitionRatio}) AS doc_keep
      |  FROM sq),
      |rep AS (
      |  SELECT source, count(*) AS source_total,
      |         count(*) FILTER (WHERE doc_keep) AS source_kept
      |  FROM v GROUP BY source)
      |SELECT doc_id, source, doc_keep, source_total, source_kept,
      |  source_kept * 100 >= source_total * $RepMinKeepPct AS source_reputable,
      |  doc_keep AND (source_kept * 100 >= source_total * $RepMinKeepPct)
      |    AS admitted
      |FROM v JOIN rep USING (source)
      |ORDER BY doc_id""".stripMargin
}
