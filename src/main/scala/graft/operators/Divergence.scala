package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Source-vs-corpus distribution divergence — the mixture-design
  * diagnostic: how far each source's unigram distribution sits from the
  * corpus it feeds. KL needs a log (never bit-exact across engines);
  * TOTAL VARIATION distance is a finite sum of rationals —
  * TV(s) = ½ Σ_w |p_s(w) − p(w)| — so the ‰ surrogate is exact
  * integer arithmetic end to end and the gate stays a hash gate.
  *
  * The absent-word mass is folded in closed form instead of an outer
  * join: Σ over words MISSING from s of p(w) = (N − Σ_{w∈s} c(w))/N,
  * so one inner join of source counts to corpus counts covers the
  * whole vocabulary — no vocab×sources fan-out, no outer join. All
  * products ride decimal(38,0) (cast BEFORE the multiply, the Gini
  * discipline): c_s·N at trillion-word scale exceeds Int64.
  *
  * Scale shape: one cached word stream feeds both count aggregates;
  * the join keys on word (vocabulary-bounded shuffle); per-source
  * finalize is a #sources-row aggregate. */
object Divergence {

  def sourceDivergence(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val words = docs.select(col(groupCol),
      explode(TextFns.words(col("text"))).as("w"))
    Settle.using(words)(Settle.shared {
      val bySrc = words.groupBy(col(groupCol), col("w"))
        .agg(count(lit(1)).as("cs"))
      val corpus = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val totals = bySrc.groupBy(col(groupCol)).agg(sum(col("cs")).as("ns"))
      val nTotal = corpus.agg(sum(col("c")).as("n"))
      bySrc.join(corpus, Seq("w"))
        .join(broadcast(totals), Seq(groupCol))
        .crossJoin(broadcast(nTotal))
        .withColumn("d", abs(
          col("cs").cast("decimal(38,0)") * col("n") -
            col("c").cast("decimal(38,0)") * col("ns")))
        .groupBy(col(groupCol), col("ns"), col("n"))
        .agg(sum(col("d")).as("sd"),
          sum(col("c")).cast("decimal(38,0)").as("cin"))
        .withColumn("numer",
          col("sd") + (col("n").cast("decimal(38,0)") - col("cin")) *
            col("ns"))
        .withColumn("tv_milli", expr(
          """numer * 1000 div
            |  (2 * CAST(ns AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))"""
            .stripMargin))
        .select(col(groupCol), col("ns").as("n_words"), col("tv_milli"))
    })
  }

  def qSourceDivergence(spark: SparkSession, dir: String): DataFrame =
    sourceDivergence(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Pairwise source VOCABULARY overlap — the redundancy map mixture
    * design reads next to [[sourceDivergence]]: Jaccard of the distinct
    * word sets for every source pair (‰, exact integers). The pair join
    * keys on word over the DISTINCT (source, word) table, so fan-out is
    * bounded by each word's source list (≤ |sources|, tiny) — never a
    * docs×docs or sources×vocab product; per-source vocabulary sizes
    * broadcast back onto the ≤ C(|sources|,2)-row pair table. */
  def vocabOverlap(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val vocab = docs.select(col(groupCol),
      explode(TextFns.words(col("text"))).as("w")).distinct()
    val sizes = vocab.groupBy(col(groupCol)).agg(count(lit(1)).as("v"))
    val shared = vocab.select(col(groupCol).as("src_a"), col("w"))
      .join(vocab.select(col(groupCol).as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_words"))
    shared
      .join(broadcast(sizes.select(col(groupCol).as("src_a"),
        col("v").as("va"))), Seq("src_a"))
      .join(broadcast(sizes.select(col(groupCol).as("src_b"),
        col("v").as("vb"))), Seq("src_b"))
      .withColumn("jaccard_milli", expr(
        "shared_words * 1000 div (va + vb - shared_words)"))
      .select(col("src_a"), col("src_b"), col("shared_words"),
        col("va"), col("vb"), col("jaccard_milli"))
  }

  def qVocabOverlap(spark: SparkSession, dir: String): DataFrame =
    vocabOverlap(Tables.documents(spark, dir))
      .orderBy(col("src_a"), col("src_b"))

  def oVocabOverlap: String =
    raw"""WITH v AS (
      |  SELECT DISTINCT source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
      |  FROM documents),
      |s AS (SELECT source, count(*) AS vsz FROM v GROUP BY 1),
      |p AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    count(*) AS shared_words
      |  FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, shared_words,
      |  sa.vsz AS va, sb.vsz AS vb,
      |  CAST(shared_words * 1000 // (sa.vsz + sb.vsz - shared_words)
      |    AS BIGINT) AS jaccard_milli
      |FROM p JOIN s sa ON p.src_a = sa.source
      |       JOIN s sb ON p.src_b = sb.source
      |ORDER BY src_a, src_b""".stripMargin

  def oSourceDivergence: String =
    raw"""WITH w AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
      |  FROM documents),
      |bs AS (SELECT source, word, count(*) AS cs FROM w GROUP BY 1, 2),
      |c AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
      |t AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM bs GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM w),
      |j AS (
      |  SELECT bs.source,
      |    abs(CAST(cs AS HUGEINT) * (SELECT n FROM n)
      |      - CAST(c.c AS HUGEINT) * t.ns) AS d,
      |    c.c
      |  FROM bs JOIN c USING (word) JOIN t ON bs.source = t.source),
      |a AS (
      |  SELECT source, sum(d) AS sd, CAST(sum(c) AS HUGEINT) AS cin
      |  FROM j GROUP BY 1)
      |SELECT a.source, t.ns AS n_words,
      |  CAST((sd + ((SELECT n FROM n) - cin) * t.ns) * 1000
      |    // (2 * CAST(t.ns AS HUGEINT) * (SELECT n FROM n)) AS BIGINT)
      |    AS tv_milli
      |FROM a JOIN t USING (source) ORDER BY source""".stripMargin
}
