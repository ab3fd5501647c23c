package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Matryoshka-style prefix-dimension retrieval evaluation: how much of
  * the full 64-dim cosine top-k survives when queries rank by only the
  * FIRST d dimensions (Kusupati et al. 2022, "Matryoshka Representation
  * Learning").
  *
  * Why a 100 TB engine cares: prefix truncation is the cheapest ANN
  * lever there is — no training, no index, just read fewer bytes. A
  * 16-of-64 prefix scan moves 4× less data through the same brute-force
  * kernel (or shrinks every IVF/PQ layout it feeds). This operator is
  * the measurement that decides whether that lever is safe for a given
  * embedding column: recall@k of the prefix ranking against the
  * full-dim ranking, per prefix width.
  *
  * Determinism: prefix vectors are `slice`s of the stored arrays, and
  * both rankings use the same sequential-fold cosine kernel
  * ([[graft.plans.CosineSimilarity]]) that is bit-identical to the
  * oracle's list_sum fold (see [[Similarity.oCosineTopK]]), with the
  * (cosine DESC, neighbor_id) total order. Recall is integer overlap
  * counting, reported in basis points by long division.
  *
  * Scale shape: each ranking leg is the broadcast-queries × candidates
  * scan with a per-query top-k window — Q·N kernel calls on sliced
  * (shorter) vectors, never an N×N join; the legs union into one plan.
  */
object Matryoshka {

  val K = 10
  val NQueries = 20
  val Prefixes = Seq(16, 32)

  /** (query_id, neighbor_id) of the exact top-K by cosine over the
    * first `d` dims (d = full width when `d` covers the whole array). */
  def topKPrefix(emb: DataFrame, d: Int): DataFrame = {
    val pe = emb.select(col("vec_id"),
      slice(col("embedding"), 1, d).as("pe"))
    val q = pe.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("pe").as("qe"))
    val c = pe.select(col("vec_id").as("neighbor_id"), col("pe").as("ce"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        graft.plans.CosineSimilarity.cosineSim(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** One row per prefix width: overlap with the full-dim top-K and the
    * recall in basis points. */
  def prefixRecall(emb: DataFrame): DataFrame = {
    val full = topKPrefix(emb, 64)
    Settle.using(full)(Settle.shared {
      Prefixes.map { d =>
        topKPrefix(emb, d).as("p")
          .join(full.as("g"),
            col("p.query_id") === col("g.query_id") &&
              col("p.neighbor_id") === col("g.neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(d).as("prefix_dims"), col("hits"),
            lit(NQueries.toLong * K).as("possible"),
            expr(s"(hits * 10000) div ${NQueries.toLong * K}").as("recall_bp"))
      }.reduce(_ unionAll _).orderBy(col("prefix_dims"))
    })
  }

  def qPrefixRecall(spark: SparkSession, dir: String): DataFrame =
    prefixRecall(Tables.embeddings(spark, dir))

  def oPrefixRecall: String = {
    def leg(d: Int, name: String) =
      raw"""$name AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.embedding[1:$d], c.embedding[1:$d]),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(q.embedding[1:$d],
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(c.embedding[1:$d],
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |        c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c
        |      ON q.vec_id < $NQueries AND c.vec_id != q.vec_id)
        |  WHERE rank <= $K)""".stripMargin
    val legs = (leg(64, "fulltk") +: Prefixes.map(d => leg(d, s"p$d"))).mkString(",\n")
    val unions = Prefixes.map(d =>
      raw"""SELECT $d AS prefix_dims, CAST(count(*) AS BIGINT) AS hits,
        |       CAST(${NQueries.toLong * K} AS BIGINT) AS possible,
        |       (CAST(count(*) AS BIGINT) * 10000) // ${NQueries.toLong * K} AS recall_bp
        |FROM p$d p JOIN fulltk g
        |  ON p.query_id = g.query_id AND p.neighbor_id = g.neighbor_id""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"WITH $legs\n$unions\nORDER BY prefix_dims"
  }
}
