package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Document-corpus text analysis: quality stats, language ID,
  * fingerprinting. Narrow per-row transforms — fully parallel, no
  * shuffle; at 100 TB these run as a single map stage over the corpus
  * with column pruning down to (doc_id, text).
  */
object TextAnalysis {

  def qTextStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = col("text")
    docs.select(
        col("doc_id"),
        length(t).as("char_count"),
        TextFns.wordCount(t).as("word_count"),
        TextFns.tokenCount(t).as("token_count"),
        TextFns.punctCount(t).as("punct_count"),
        (TextFns.punctCount(t) / length(t)).as("punct_ratio"),
        TextFns.stopwordCount(t, TextFns.EnStopwords).as("stopword_count"),
        (TextFns.stopwordCount(t, TextFns.EnStopwords) / TextFns.wordCount(t))
          .as("stopword_ratio"),
        TextFns.avgWordLen(t).as("avg_word_len"),
        (TextFns.capsCount(t) / length(t)).as("caps_ratio"))
      .withColumn("is_quality",
        col("char_count").between(TextFns.QualityMinChars, TextFns.QualityMaxChars)
          && col("stopword_ratio") >= TextFns.QualityMinStopwordRatio
          && col("punct_ratio") <= TextFns.QualityMaxPunctRatio)
      .orderBy(col("doc_id"))
  }

  def oTextStats: String =
    raw"""WITH s AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INTEGER) AS char_count,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INTEGER) AS word_count,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS token_count,
      |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS punct_count,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / length(text) AS punct_ratio,
      |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |        w -> list_contains(['the','a','of','and','is','to','in'], w))) AS INTEGER) AS stopword_count,
      |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |        w -> list_contains(['the','a','of','and','is','to','in'], w)))
      |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stopword_ratio,
      |    length(regexp_replace(text, '\s', '', 'g'))
      |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS avg_word_len,
      |    len(regexp_extract_all(text, '[A-Z]')) / length(text) AS caps_ratio
      |  FROM documents)
      |SELECT *, char_count BETWEEN ${TextFns.QualityMinChars} AND ${TextFns.QualityMaxChars}
      |          AND stopword_ratio >= ${TextFns.QualityMinStopwordRatio}
      |          AND punct_ratio <= ${TextFns.QualityMaxPunctRatio} AS is_quality
      |FROM s ORDER BY doc_id""".stripMargin

  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = col("text")
    val s = TextFns.langScores(t)
    docs.select(
        col("doc_id"), col("lang").as("labeled_lang"),
        s("en").as("score_en"), s("de").as("score_de"),
        s("es").as("score_es"), s("fr").as("score_fr"),
        TextFns.wordCount(t).as("_wc"))
      .withColumn("predicted_lang",
        TextFns.langId(col("score_en"), col("score_de"), col("score_es"), col("score_fr")))
      .withColumn("confidence",
        greatest(col("score_en"), col("score_de"), col("score_es"), col("score_fr"))
          / col("_wc"))
      .drop("_wc")
      .orderBy(col("doc_id"))
  }

  def oLangId: String =
    """WITH w AS (
      |  SELECT doc_id, lang AS labeled_lang, text,
      |         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, labeled_lang,
      |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and','is','to','in'], w))) AS INTEGER) AS score_en,
      |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und','ist','nicht'], w))) AS INTEGER) AS score_de,
      |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','que','y','los'], w))) AS INTEGER) AS score_es,
      |    CAST(len(list_filter(ws, w -> list_contains(['le','la','les','et','est','une'], w))) AS INTEGER) AS score_fr,
      |    len(ws) AS wc
      |  FROM w)
      |SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr,
      |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
      |       WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
      |       WHEN score_es >= score_fr THEN 'es'
      |       ELSE 'fr' END AS predicted_lang,
      |  greatest(score_en, score_de, score_es, score_fr) / wc AS confidence
      |FROM s ORDER BY doc_id""".stripMargin

  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fingerprint"),
        md5(col("text")).as("exact_hash"))
      .orderBy(col("doc_id"))

  def oFingerprint: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  md5(text) AS exact_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** (doc_id, winnowing-fingerprint array) — each lambda input projected
    * as its own attribute so nothing re-evaluates per element.
    *
    * CAUTION: fine as a per-doc sketch column, but do NOT explode this
    * array into a corpus-wide pipeline: downstream Filter/Generate
    * nodes substitute the nested window-minima lambda into themselves
    * during optimization and evaluation cost compounds per inlining
    * level (measured: minutes for a 5k-doc corpus). Corpus-scale paths
    * use [[winnowedRows]]. */
  def winnowed(docs: DataFrame, w: Int = 4): DataFrame =
    docs.select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .select(col("doc_id"), TextFns.shingleSeqFromWords(col("ws")).as("sseq"))
      .select(col("doc_id"), TextFns.shingleHashes(col("sseq")).as("hashes"))
      .select(col("doc_id"), TextFns.winnowingFromHashes(col("hashes"), w).as("fps"))

  /** Row-form winnowing — the corpus-scale path: posexplode the shingle
    * hashes, take each w-frame's minimum with a window function, keep
    * one row per selected fingerprint. Same output set as exploding
    * [[winnowed]], but the heavy lifting is a plain window over rows
    * (shuffle on doc_id, per-key sort) instead of nested array lambdas,
    * so it spills, codegens, and AQE-splits like any other operator. */
  def winnowedRows(docs: DataFrame, w: Int = 4): DataFrame = {
    val ex = docs.select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .select(col("doc_id"), TextFns.shingleSeqFromWords(col("ws")).as("sseq"))
      .select(col("doc_id"), TextFns.shingleHashes(col("sseq")).as("hashes"))
      .select(col("doc_id"), size(col("hashes")).as("n"),
        posexplode(col("hashes")).as(Seq("pos", "h")))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)
    ex.withColumn("fp", min(col("h")).over(frame))
      .filter(col("pos") <= greatest(col("n") - w, lit(0)))
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Overlap candidates by shared winnowing fingerprint (explode +
    * self-equi-join — same colliding-pairs cost model as the shingle
    * join, on a ~2/(w+1)-sized sketch instead of every shingle). Hot
    * fingerprints (boilerplate shared by many docs) are dropped before
    * the pair join exactly like ultra-frequent shingles in
    * Dedup.shingleJaccardPairs — a fingerprint in k docs makes k²
    * pairs, so template text would otherwise blow the join up. */
  def winnowingOverlapPairs(docs: DataFrame, minShared: Int = 2,
      maxFpDocFreq: Int = 100): DataFrame = {
    // cache the ARRAY-form sketch: it builds map-only (no window
    // shuffle/sort like winnowedRows), and the cache is an optimizer
    // barrier, so exploding it cannot trigger the nested-lambda
    // re-substitution blowup that makes the uncached array form unsafe
    // (see the CAUTION on winnowed). Cached for this computation only.
    val w = winnowed(docs)
    Settle.using(w)(Settle.shared {
      val ex = w.select(col("doc_id"), explode(col("fps")).as("fp"))
      val hot = ex.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxFpDocFreq).select(col("fp"))
      val rare = ex.join(broadcast(hot), Seq("fp"), "left_anti")
      rare.as("x").join(rare.as("y"), Seq("fp"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= minShared)
    })
  }

  def qWinnowingOverlap(spark: SparkSession, dir: String): DataFrame =
    winnowingOverlapPairs(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Corpus n-gram statistics: top-k 3-gram shingles by document
    * frequency (distinct per doc, so boilerplate inside one doc counts
    * once). One explode + one hash aggregate with map-side partial
    * aggregation, then a TakeOrderedAndProject top-k — the corpus-stats
    * shape that runs as two stages at any scale. Deterministic total
    * order: df desc, then the shingle itself. */
  def topNgrams(docs: DataFrame, k: Int = 20): DataFrame = {
    // the cache is an optimizer barrier so the explode can't re-inline
    // the shingle transform per element (quadratic blowup)
    val sh = Dedup.shingled(docs)
    Settle.using(sh)(Settle.shared {
      sh.select(explode(col("shingles")).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram"))
        .limit(k)
    })
  }

  def qTopNgrams(spark: SparkSession, dir: String): DataFrame =
    topNgrams(Tables.documents(spark, dir))

  def oTopNgrams: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END AS shingles FROM w),
      |ex AS (SELECT unnest(shingles) AS ngram FROM sh)
      |SELECT ngram, CAST(count(*) AS BIGINT) AS df
      |FROM ex GROUP BY 1 ORDER BY df DESC, ngram LIMIT 20""".stripMargin

  /** Per-document top terms by TF-weighted inverse document frequency.
    * tf = occurrences in the doc; df = docs containing the term;
    * score = tf / df (a division-based idf surrogate: bit-exact in both
    * engines, unlike ln whose last bit is libm-dependent — the classic
    * tf·ln(N/df) is a one-line swap on a real deployment). Ranking is
    * fully deterministic: tf desc, df asc, term asc. Two shuffles: one
    * per-doc term count, one broadcast-joined document frequency. */
  def topTerms(docs: DataFrame, perDoc: Int = 3): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(TextFns.words(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(broadcast(df), Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perDoc)
      .withColumn("score", col("tf").cast("double") / col("df"))
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  def qTopTerms(spark: SparkSession, dir: String): DataFrame =
    topTerms(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("rank"))

  def oTopTerms: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |r AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS INTEGER) AS rank
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, rank, term, tf, df, CAST(tf AS DOUBLE) / df AS score
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Deterministic corpus split: bucket = cross-engine hash of the doc
    * id, mod 100 → train/val/test assignment that is stable across
    * runs, engines, and cluster layouts (no RNG, no sampling drift).
    * Map-only; at 100 TB this is a projection fused into the scan. */
  def withSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs
      .withColumn("bucket",
        pmod(TextFns.md5u56(col("doc_id").cast("string")), lit(100L)).cast("int"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  def qCorpusSplit(spark: SparkSession, dir: String): DataFrame =
    withSplit(Tables.documents(spark, dir))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  def oCorpusSplit: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, CAST($h % 100 AS INTEGER) AS bucket,
       |  CASE WHEN $h % 100 < 80 THEN 'train'
       |       WHEN $h % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Benchmark-contamination scan: train-split docs sharing ≥ minShared
    * 3-gram shingles with any test-split doc. The join is candidate-
    * generated on the shared shingle (never train × test), with the same
    * hot-shingle economics as the near-dup joins — at 100 TB add the
    * doc-freq cap before the join exactly like shingleJaccardPairs. */
  def contamination(docs: DataFrame, minShared: Int = 5): DataFrame = {
    val tagged = withSplit(docs)
      .select(col("doc_id"), col("split"), TextFns.words(col("text")).as("ws"))
      .select(col("doc_id"), col("split"), TextFns.shinglesFromWords(col("ws")).as("shingles"))
    // one shingling pass feeds both join legs, and the cache
    // barrier keeps the explode from re-inlining the shingle transform
    Settle.using(tagged)(Settle.shared {
      val sh = tagged.select(col("doc_id"), col("split"), explode(col("shingles")).as("sh"))
      val train = sh.filter(col("split") === "train")
        .select(col("doc_id").as("train_doc"), col("sh"))
      val test = sh.filter(col("split") === "test")
        .select(col("doc_id").as("test_doc"), col("sh"))
      train.join(test, Seq("sh"))
        .groupBy(col("train_doc"), col("test_doc"))
        .agg(count(lit(1)).as("shared_shingles"))
        .filter(col("shared_shingles") >= minShared)
    })
  }

  def qContamination(spark: SparkSession, dir: String): DataFrame =
    contamination(Tables.documents(spark, dir))
      .orderBy(col("train_doc"), col("test_doc"))

  /** Leakage-aware split: the deterministic hash split with
    * contaminated TRAIN docs (≥ minShared shared 3-gram shingles with
    * any test doc) reassigned to a `quarantined` bucket — the eval
    * firewall applied AT SPLIT TIME instead of as a post-hoc report.
    * Test/val assignments never change (they are the thing being
    * protected); dropping vs re-routing quarantined docs is the
    * caller's policy, the operator only labels. Scale shape: the
    * [[contamination]] candidate join (shared-shingle generated, never
    * train×test) plus one broadcast-left join of the (small) quarantine
    * list against the split — no new corpus-scale work. */
  def decontaminatedSplit(docs: DataFrame, minShared: Int = 5): DataFrame = {
    val quarantine = contamination(docs, minShared)
      .select(col("train_doc").as("doc_id")).distinct()
      .withColumn("hit", lit(true))
    withSplit(docs)
      .select(col("doc_id"), col("split"))
      .join(broadcast(quarantine), Seq("doc_id"), "left")
      .withColumn("final_split",
        when(col("split") === "train" && col("hit"), "quarantined")
          .otherwise(col("split")))
      .select(col("doc_id"), col("split"), col("final_split"))
  }

  def qDecontaminatedSplit(spark: SparkSession, dir: String): DataFrame =
    decontaminatedSplit(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def oDecontaminatedSplit: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CASE WHEN $h % 100 < 80 THEN 'train'
       |         WHEN $h % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, split, CASE WHEN len(ws) >= 3
       |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
       |    ELSE [array_to_string(ws, ' ')] END AS shingles FROM s),
       |cont AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM sh a JOIN sh b ON a.split = 'train' AND b.split = 'test'
       |  WHERE len(list_intersect(a.shingles, b.shingles)) >= 5)
       |SELECT s.doc_id, s.split,
       |  CASE WHEN s.split = 'train' AND s.doc_id IN (SELECT doc_id FROM cont)
       |    THEN 'quarantined' ELSE s.split END AS final_split
       |FROM s ORDER BY s.doc_id""".stripMargin
  }

  def oContamination: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CASE WHEN $h % 100 < 80 THEN 'train'
       |         WHEN $h % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, split, CASE WHEN len(ws) >= 3
       |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
       |    ELSE [array_to_string(ws, ' ')] END AS shingles FROM s)
       |SELECT a.doc_id AS train_doc, b.doc_id AS test_doc,
       |  CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS shared_shingles
       |FROM sh a JOIN sh b ON a.split = 'train' AND b.split = 'test'
       |WHERE len(list_intersect(a.shingles, b.shingles)) >= 5
       |ORDER BY train_doc, test_doc""".stripMargin
  }

  /** Canonicalization pass: Unicode NFC (native [[graft.plans.NormalizeText]]
    * expression), then the accent-stripped / lowercased / whitespace-
    * collapsed "folded" form every digest operator should hash at a
    * multilingual 100 TB scale. Map-only, whole-stage codegen throughout.
    * The fixture corpus is ASCII, so the ORACLE pins only the engine
    * wiring; the Unicode semantics (composed ≡ decomposed, ligature
    * folding, accent strip) are spec-pinned on planted strings in
    * `PlanSpec`. */
  def qTextNormalize(spark: SparkSession, dir: String): DataFrame = {
    val nfc = graft.plans.NormalizeText.normalizeText(col("text"))
    Tables.documents(spark, dir).select(
        col("doc_id"),
        nfc.as("nfc_text"),
        trim(regexp_replace(
          graft.plans.NormalizeText.stripAccents(lower(nfc)), "\\s+", " "))
          .as("folded_text"))
      .orderBy(col("doc_id"))
  }

  def oTextNormalize: String =
    raw"""SELECT doc_id, nfc_normalize(text) AS nfc_text,
      |  trim(regexp_replace(strip_accents(lower(nfc_normalize(text))),
      |    '\s+', ' ', 'g')) AS folded_text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Full DuckDB twin of the winnowing overlap query (w=4, minShared=2,
    * maxFpDocFreq=100): same md5-derived shingle hashes (md5u56Sql),
    * window minima via list slices, distinct fingerprints, hot-
    * fingerprint drop, pair join. */
  def oWinnowingOverlap: String = {
    val h = TextFns.md5u56Sql("x")
    s"""WITH w AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |sq AS (
       |  SELECT doc_id, CASE WHEN len(ws) >= 3
       |    THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
       |    ELSE [array_to_string(ws, ' ')] END AS sseq FROM w),
       |h AS (
       |  SELECT doc_id, list_transform(sseq, x -> $h) AS hs FROM sq),
       |fps AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(hs) >= 4
       |    THEN [list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]
       |    ELSE [list_min(hs)] END) AS fp_list FROM h),
       |ex AS (SELECT doc_id, unnest(fp_list) AS fp FROM fps),
       |rare AS (
       |  SELECT doc_id, fp FROM ex
       |  WHERE fp IN (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 100))
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared_fps
       |FROM rare x JOIN rare y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |GROUP BY x.doc_id, y.doc_id
       |HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------------- LM quality score

  /** Corpus-frequency language-model quality score — the
    * perplexity-filter signal (CCNet-style: docs whose n-grams are rare
    * under a corpus LM are likely garbage), re-expressed so the gate can
    * be EXACT across engines.
    *
    * Per char-trigram `t` with corpus count `c(t)`, the log-probability
    * `ln c(t) − ln C` is quantized to the integer bucket
    * `floor(log₂ c(t))`, computed as `length(bin(c)) − 1` — no libm call
    * (whose last bit is implementation-defined) and no float at all. A
    * document's score is the occurrence-weighted MEAN bucket of its
    * trigrams: all-integer sums (associative — any aggregation order
    * gives identical bits) with one final double division, so the DuckDB
    * twin hash-matches exactly. Up to the bucketing granularity and the
    * dropped `ln C` constant this ranks documents like mean log-prob;
    * `rarest_bucket` (the min) is the "contains at least one
    * never-seen-elsewhere trigram" flag a filter funnel would gate on.
    *
    * Scale shape (100 TB): the trigram explode is map-local and its raw
    * occurrence stream is cached once, so NO doc-keyed intermediate ever
    * shuffles: the vocabulary aggregation's map-side partials collapse
    * each partition to its distinct trigrams (output bounded by
    * charset³, ~20k observed), and the scoring pass joins the broadcast
    * vocabulary and partial-aggregates straight to one row per doc per
    * partition before its single doc_id shuffle. Two shuffles total —
    * one vocabulary-bounded, one doc-bounded; the (doc, trigram)-pair
    * stream (the dominant data volume) never crosses the network.
    * (Measured at sf0.1: 4.5 s → 2.6 s over the previous form that
    * shuffled a (doc, trigram)-keyed aggregate; on a cluster the cache
    * is disk-spillable executor-local storage, still cheaper than the
    * exchange it replaces.) Counts use the full corpus including the
    * doc itself (train = score corpus, the usual first-pass setup).
    */
  def lmBucketScore(docs: DataFrame): DataFrame = {
    val s = lower(trim(col("text")))
    // explode the INDEX sequence and slice in a plain projection — the
    // substr stays codegen'd; a transform(sequence, i => substr) lambda
    // here ran interpreted per trigram and cost ~2 s at sf0.1
    val tris = docs
      .select(col("doc_id"), s.as("s"))
      .select(col("doc_id"), col("s"), explode(
        // sequence(1, n) runs DESCENDING when n < 1 — guard short docs
        when(length(col("s")) >= 3, sequence(lit(1), length(col("s")) - 2))
          .otherwise(array())).as("i"))
      .select(col("doc_id"), col("s").substr(col("i"), lit(3)).as("tri"))
    // the explode feeds BOTH the vocabulary rollup and the scoring pass —
    // cache the RAW occurrence stream once (not a (doc, trigram)-keyed
    // aggregate: that intermediate would add a doc×vocab-sized shuffle)
    Settle.using(tris)(Settle.shared {
      val vocab = tris.groupBy(col("tri"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("tri"), TextFns.log2Floor(col("cnt")).cast("long").as("bucket"))
      tris.join(broadcast(vocab), Seq("tri"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tris"),
          (sum(col("bucket")).cast("double") /
            count(lit(1)).cast("double")).as("avg_bucket"),
          min(col("bucket")).as("rarest_bucket"))
    })
  }

  /** Corpus-wide top-k terms by total occurrences, computed EXACTLY via
    * a Misra-Gries candidate pass: each partition keeps a bounded
    * `summarySize`-entry frequency summary (the decrement-all step
    * evicts infrequent keys), the unioned candidate keys are exactly
    * recounted with a broadcast semi join, and the top-k is taken from
    * the recount.
    *
    * Why the sketch makes the EXACT answer cheaper at 100 TB: the naive
    * plan's map-side partial aggregation holds a hash table proportional
    * to the DISTINCT terms per partition — unbounded vocabulary (typos,
    * ids, numbers) means unbounded executor state and a vocabulary-sized
    * shuffle. MG caps map-side state at `summarySize` entries and the
    * recount shuffle at the candidate set. Correctness is not
    * probabilistic: any term with global count > N/(m+1) must exceed
    * n_p/(m+1) on at least one partition (pigeonhole over partitions),
    * so it survives as a candidate; the operator VERIFIES the k-th
    * recounted frequency clears that threshold and falls back to the
    * full aggregation otherwise — the oracle gate compares against the
    * plain exact SQL either way. */
  def heavyHitters(docs: DataFrame, k: Int = 20,
      summarySize: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(TextFns.words(col("text"))).as("term"))
    // one corpus pass: MG summary keys per partition, plus a marker row
    // carrying the partition's element count (so the guarantee threshold
    // needs no second scan). U+0000 (escaped below) cannot occur in a split token.
    val Marker = "\u0000total"
    val summaries = words.as[String].mapPartitions { it =>
      val m = summarySize
      val counts = new scala.collection.mutable.HashMap[String, Long]()
      var seen = 0L
      it.foreach { w =>
        seen += 1
        counts.get(w) match {
          case Some(c) => counts.update(w, c + 1)
          case None =>
            if (counts.size < m) counts.update(w, 1L)
            else {
              // MG decrement step: all keys lose 1, zeros evict, the
              // arriving key is dropped — amortized O(1) per element
              val dead = scala.collection.mutable.ArrayBuffer.empty[String]
              counts.keysIterator.foreach { key =>
                val c = counts(key) - 1
                if (c == 0) dead += key else counts.update(key, c)
              }
              dead.foreach(counts.remove)
            }
        }
      }
      counts.keysIterator.map(w => (w, 0L)) ++ Iterator((Marker, seen))
    }.toDF("term", "n_part")
    // sketch-sized collect (≤ partitions·summarySize rows): control plane
    val summaryRows = summaries.collect()
    val total = summaryRows.filter(_.getString(0) == Marker).map(_.getLong(1)).sum
    val candidates = summaryRows.map(_.getString(0)).filter(_ != Marker)
      .distinct.toSeq.toDF("term")
    val exact = words
      .join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)
    // guarantee check: the k-th candidate frequency must clear the MG
    // survival threshold, else candidates might miss a true top-k term
    val rows = exact.collect()
    val threshold = total / (summarySize + 1)
    if (rows.length >= k && rows.last.getLong(1) > threshold)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), exact.schema)
    else
      words.groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(k)
  }

  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(Tables.documents(spark, dir))

  def oHeavyHitters: String =
    raw"""WITH w AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents)
      |SELECT term, CAST(count(*) AS BIGINT) AS n
      |FROM w GROUP BY 1 ORDER BY n DESC, term LIMIT 20""".stripMargin

  def qLmScore(spark: SparkSession, dir: String): DataFrame =
    lmBucketScore(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def oLmScore: String =
    raw"""WITH t AS (
      |  SELECT doc_id, lower(trim(text)) AS s FROM documents),
      |g AS (
      |  SELECT doc_id, substr(s, CAST(i AS INTEGER), 3) AS tri
      |  FROM t, unnest(range(1, greatest(length(s) - 1, 1))) AS u(i)),
      |d AS (SELECT doc_id, tri, count(*) AS n_occ FROM g GROUP BY 1, 2),
      |c AS (SELECT tri, CAST(sum(n_occ) AS BIGINT) AS cnt FROM d GROUP BY 1),
      |b AS (SELECT tri, CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS bucket FROM c)
      |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_tris,
      |       CAST(sum(n_occ * bucket) AS DOUBLE) / CAST(sum(n_occ) AS DOUBLE)
      |         AS avg_bucket,
      |       CAST(min(bucket) AS BIGINT) AS rarest_bucket
      |FROM d JOIN b USING (tri)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
