package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}
import graft.functions.TextFns

/** Corpus-level overlap estimation between two document sets (train vs
  * held-out here) from MERGEABLE MinHash sketches — the planning
  * statistic a 100 TB pipeline reads before deciding whether an
  * expensive cross-snapshot dedup ([[IncrementalDedup]]) or
  * contamination sweep ([[TextAnalysis.contamination]]) is worth
  * running: J(A, B) ≈ fraction of the two corpora's per-function
  * minima that coincide.
  *
  * The sketch is 64 longs per CORPUS (not per doc): min over all
  * shingles of `g_i(h)`, where `h` is the cross-engine md5-derived
  * 56-bit shingle hash reduced mod p, and `g_i(x) = (aᵢ·x + bᵢ) mod p`
  * is a fixed universal-hash family (p = 2³¹−1, coefficients seeded
  * once and inlined as literals in BOTH engines — the
  * [[Similarity.hyperplanes]] determinism pattern). All arithmetic is
  * integer and every reduction is a min, so the estimate is exactly
  * reproducible: the DuckDB twin hash-matches, sidestepping both
  * engines' incompatible native hash functions.
  *
  * Mergeability (spec-pinned): sig(A ∪ B) = elementwise min(sig(A),
  * sig(B)) — shards sketch independently, a coordinator merges 64
  * longs per shard. The exact Jaccard is computed alongside (distinct
  * shingles tagged per side, one aggregation) as the self-check column;
  * at production scale one would ship only the sketch.
  *
  * Scale shape: shingle explode is map-local; the sketch leg is a
  * 64-min partial aggregate folded map-side to ONE row per partition
  * before a single-row combine (no shuffle of shingle rows for the
  * sketch); the exact leg adds one shuffle on shingle. Sketch work is
  * O(corpus) map-side with a constant 64 integer ops per shingle.
  */
object Overlap {

  val NFuncs = 64
  /** 2³¹ − 1 (Mersenne prime): aᵢ·x + bᵢ stays well inside a long. */
  val P = 2147483647L

  /** Fixed seeded universal-hash coefficients, identical in the oracle. */
  lazy val coeffs: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(7)
    Seq.fill(NFuncs)(
      (1L + rng.nextInt((P - 1).toInt).toLong, rng.nextInt(P.toInt).toLong))
  }

  /** (side, sh): distinct shingles of each corpus side. */
  private def sideShingles(tagged: DataFrame, sideCol: Column): DataFrame =
    tagged
      .select(sideCol.as("side"), TextFns.words(col("text")).as("ws"))
      .select(col("side"),
        explode(TextFns.shinglesFromWords(col("ws"))).as("sh"))
      .distinct()

  /** One row per side: h0..h63 = min over the side's shingles of gᵢ. */
  private def sigBySide(shingles: DataFrame): DataFrame = {
    val hp = pmod(TextFns.md5u56(col("sh")), lit(P))
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("hp") * a + b, lit(P))).as(s"h$i")
    }
    shingles.select(col("side"), hp.as("hp"))
      .groupBy(col("side")).agg(mins.head, mins.tail: _*)
  }

  /** Corpus sketch of ONE document set (no side tag) — the shard-level
    * artifact the mergeability property is about. */
  def corpusSig(docs: DataFrame): DataFrame =
    sigBySide(sideShingles(docs, lit("all"))).drop("side")

  /** Elementwise min of two sketches = sketch of the union. */
  def mergeSigs(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = (0 until NFuncs).map(i =>
      least(col(s"a.h$i"), col(s"b.h$i")).as(s"h$i"))
    a.as("a").crossJoin(b.as("b")).select(cols: _*)
  }

  /** One-row overlap report between the deterministic train split and
    * the held-out rest: sketch estimate next to the exact Jaccard. */
  def overlapEstimate(docs: DataFrame): DataFrame = {
    val tagged = TextAnalysis.withSplit(docs)
      .withColumn("is_train", col("split") === "train")
    val sh = sideShingles(tagged,
      when(col("is_train"), "train").otherwise("heldout"))
    Settle.using(sh)(Settle.shared {
      val sigs = sigBySide(sh)
      val train = sigs.filter(col("side") === "train").drop("side").as("a")
      val held = sigs.filter(col("side") === "heldout").drop("side").as("b")
      val matched = (0 until NFuncs)
        .map(i => when(col(s"a.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = train.crossJoin(held)
        .select(matched.as("matched"),
          (matched.cast("double") / NFuncs.toDouble).as("est_jaccard"))
      val exact = sh
        .groupBy(col("sh"))
        .agg(max(when(col("side") === "train", 1).otherwise(0)).as("in_train"),
          max(when(col("side") === "heldout", 1).otherwise(0)).as("in_held"))
        .agg(
          sum(when(col("in_train") === 1 && col("in_held") === 1, 1L)
            .otherwise(0L)).as("inter"),
          count(lit(1)).as("union_ct"))
        .select(col("inter"), col("union_ct"),
          (col("inter").cast("double") / col("union_ct").cast("double"))
            .as("exact_jaccard"))
      est.crossJoin(exact)
        .select(lit(NFuncs.toLong).as("n_funcs"), col("matched"),
          col("est_jaccard"), col("inter"), col("union_ct"),
          col("exact_jaccard"))
    })
  }

  def qOverlapEstimate(spark: SparkSession, dir: String): DataFrame =
    overlapEstimate(Tables.documents(spark, dir))

  def oOverlapEstimate: String = {
    val h = TextFns.md5u56Sql("sh")
    val split = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    val minCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min((hp * $a + $b) % $P) AS h$i"
    }.mkString(", ")
    val matched = (0 until NFuncs)
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    raw"""WITH w AS (
      |  SELECT CASE WHEN $split % 100 < 80 THEN 'train' ELSE 'heldout' END AS side,
      |         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |ex AS (
      |  SELECT DISTINCT side, unnest(CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                        for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END) AS sh
      |  FROM w),
      |hp AS (SELECT side, $h % $P AS hp FROM ex),
      |sig AS (SELECT side, $minCols FROM hp GROUP BY side),
      |est AS (
      |  SELECT CAST($matched AS BIGINT) AS matched,
      |         CAST($matched AS DOUBLE) / $NFuncs.0 AS est_jaccard
      |  FROM sig a, sig b WHERE a.side = 'train' AND b.side = 'heldout'),
      |ex2 AS (
      |  SELECT sh, max(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS in_train,
      |         max(CASE WHEN side = 'heldout' THEN 1 ELSE 0 END) AS in_held
      |  FROM ex GROUP BY sh),
      |exact AS (
      |  SELECT CAST(sum(CASE WHEN in_train = 1 AND in_held = 1 THEN 1 ELSE 0 END) AS BIGINT) AS inter,
      |         CAST(count(*) AS BIGINT) AS union_ct
      |  FROM ex2)
      |SELECT CAST($NFuncs AS BIGINT) AS n_funcs, matched, est_jaccard,
      |       inter, union_ct,
      |       CAST(inter AS DOUBLE) / CAST(union_ct AS DOUBLE) AS exact_jaccard
      |FROM est, exact""".stripMargin
  }
}
