package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Sparse (lexical) similarity top-k: for every document, the k most
  * similar documents by IDF-weighted shingle cosine — the sparse-vector
  * complement of the dense-embedding ANN family, and the weighted
  * refinement of the Jaccard dedup family (Jaccard treats a shared
  * boilerplate shingle and a shared rare shingle identically; the IDF
  * weight makes rare overlap dominate, which is what retrieval wants).
  *
  * Shingles, not words, are the feature: on web-ish corpora the word
  * vocabulary is stopword-dense (measured on the fixture: every single
  * word appears in > half the documents, so word-level TF-IDF carries
  * no signal at any df cutoff), while 3-gram shingles are sequence
  * evidence (fixture max shingle df = 25 of 5000 docs).
  *
  * Exactness discipline: weights are the integer idf surrogate
  * ⌊N·[[IdfScale]]/df⌋ (the [[Features]] precedent); dots and norms are
  * exact DECIMAL(38,0) sums of decimal products (order-independent, no
  * Int64 wrap at any corpus size — the Gini lesson); the ONLY floats
  * are the final cast + sqrt + multiply + divide, each a single
  * correctly-rounded IEEE op on identical operands in both engines, so
  * the cosine is bit-deterministic and hash-gated. No decimal column
  * reaches the output (driver-hash FLBA rule).
  *
  * Scale shape (100 TB): candidates come from the same df-capped
  * shingle equi-join as [[Dedup.shingleJaccardPairs]] — cost tracks
  * colliding pairs, never n²; hot shingles (df > [[Cap]]) are dropped
  * before pairing. Per-doc norms attach to the postings LEGS before
  * the pair aggregation (1 linear join by doc key), never onto the
  * pair table (the r11 dedup-curve lesson: a per-pair join against a
  * doc-level table re-shuffles the ~100M-row pair table). The pair
  * aggregate is cached once and read by both directions of the
  * symmetric view; the final per-doc window is rank-limited
  * (WindowGroupLimit) so output is ≤ k rows per document.
  */
object SparseSim {

  /** Hot-shingle df cap — boilerplate is not similarity signal (the
    * [[Dedup.shingleJaccardPairs]] rule, same knob). */
  val Cap = 1000

  /** Integer idf surrogate scale: wgt = ⌊N·1000 / df⌋. */
  val IdfScale = 1000L

  /** Neighbors reported per document. */
  val K = 5

  def sparseTopK(docs: DataFrame): DataFrame = {
    // the postings projection (shingle → df-cap → idf weight, norms
    // denormalized onto the rows) comes from [[buildPostings]], whose
    // result is eagerly checkpointed — so shingling, df counting, and
    // weighting run ONCE. The r11 inline body instead re-derived the
    // projection inside each leg of the candidate join (post evaluated
    // 4×, the df aggregate with it), which is exactly where its 5.99 s
    // median and 1.62× run-to-run spread lived (VERDICT r12 item 2);
    // same expressions ⇒ same weights ⇒ the oracle hash is unchanged.
    val posted = buildPostings(docs)
    // the pair grouping keys on the integer shingle surrogate, never the
    // string — the big shuffle moves 8-byte keys and the sort compares
    // longs. r18: in-group i<j pair generation ([[Dedup.groupedPairs]],
    // groups ≤ [[Cap]] postings) replaces the two-leg self-join — one
    // postings shuffle instead of two, same pairs, same decimal dots
    val dots = Dedup.groupedPairs(
        posted.select(col("sh_id"), col("doc_id"), col("wgt"), col("n2")),
        "sh_id", struct(col("doc_id"), col("wgt"), col("n2")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_shingles"),
        sum(expr("CAST(a.wgt AS DECIMAL(19,0)) * CAST(b.wgt AS DECIMAL(19,0))"))
          .as("dot"),
        first(col("a.n2")).as("na2"), first(col("b.n2")).as("nb2"))
    // the pair aggregate feeds BOTH directions of the symmetric view —
    // materialize it once instead of re-running the candidate join
    Settle.using(dots)(Settle.shared {
      val sym = dots.unionByName(dots.select(
        col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
        col("shared_shingles"), col("dot"),
        col("nb2").as("na2"), col("na2").as("nb2")))
      val w = Window.partitionBy(col("doc_a"))
        .orderBy(col("cosine").desc, col("doc_b"))
      sym
        .withColumn("cosine", expr(
          "CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("doc_a").as("doc_id"), col("doc_b").as("neighbor_id"),
          col("shared_shingles"), col("cosine"), col("rank"))
    })
  }

  def qSparseTopK(spark: SparkSession, dir: String): DataFrame =
    sparseTopK(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("rank"))

  /** Query docs for the serving path (the ANN family's convention). */
  val NQueries = 50

  /** The persisted inverted index: (doc_id, sh, sh_id, wgt, n2) —
    * postings with the doc's norm DENORMALIZED onto every row, so the
    * serving join touches no second table (reads are the hot path; the
    * norm column costs 16 bytes/posting at build time, once). n2 stays
    * DECIMAL(38,0) inside the artifact; it never reaches a query output.
    *
    * sh_id is a CONTENT-DERIVED integer surrogate for the shingle
    * string — xxhash64(sh) — so the candidate join keys on 8-byte longs
    * instead of ~25-byte strings. Content-derived matters for the
    * 100 TB determinism contract (ADVICE r12): a positional id
    * (monotonically_increasing_id, the r12 design) is only stable
    * per (partition, row-offset), and under a shuffle-fetch failure a
    * retried stage can re-emit the df aggregate's rows in a different
    * order BEFORE the eager checkpoint materializes, silently assigning
    * one shingle two ids and dropping its candidate pairs. A hash of
    * the content is identical under any recompute, any partitioning,
    * and any executor loss — no checkpoint-ordering contract needed.
    * The price is a 2⁻⁶⁴ birthday term: a spurious sh_id equality would
    * MERGE two shingles' postings (silently wrong neighbors), so the
    * build AUDITS the persisted vocabulary (one |vocab|-bounded
    * aggregate over the already-persisted df table — ~free next to the
    * df count itself) and fails loudly on any collision. Expected
    * collisions at n distinct shingles ≈ n²/2⁶⁵: ~5·10⁻⁹ at 10M
    * shingles, < 3% at ~1B, but ~17 EXPECTED at 25B — a corpus that
    * large essentially always trips the audit, so the lift path
    * (salt the hash input or widen to a (hash, length) composite key)
    * is not a tail contingency there, it is the required design; the
    * audit's job is to make crossing that line a visible build
    * failure instead of silently merged postings. */
  def buildPostings(docs: DataFrame): DataFrame = {
    // ONE checkpoint (the final postings); sh, dfT and post
    // persist-in-place so shingling runs once (sh feeds ex twice: the
    // df aggregate and the probe side), the df aggregate runs once
    // (dfT feeds the collision audit and the postings join), and the
    // explode + df join runs once (post feeds the norm aggregate and
    // the final join) — a checkpoint per frame would be a full extra
    // materialization pass each
    val sh = Dedup.shingled(docs)
    val ex = sh.select(col("doc_id"), explode_outer(col("shingles")).as("sh"))
      .filter(col("sh").isNotNull)
    val dfT = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= Cap)
      .withColumn("sh_id", xxhash64(col("sh")))
    val n1 = docs.agg(count(lit(1)).as("nn"))
    val post = ex.join(dfT, Seq("sh"))
      .crossJoin(broadcast(n1))
      .withColumn("wgt", expr(s"(nn * $IdfScale) div df"))
      .select(col("doc_id"), col("sh"), col("sh_id"), col("wgt"))
    Settle.using(sh, dfT, post)(Settle.shared {
      val collisions = dfT.groupBy(col("sh_id"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      require(collisions == 0L,
        s"sh_id xxhash64 collision on $collisions id(s) — salt the hash " +
          "input or widen sh_id to a (hash, length) composite")
      val nrm = post.groupBy(col("doc_id"))
        .agg(sum(expr("CAST(wgt AS DECIMAL(19,0)) * CAST(wgt AS DECIMAL(19,0))"))
          .as("n2"))
      post.join(nrm, Seq("doc_id"))
    })
  }

  /** Top-k for a query batch against a persisted postings index: the
    * query side is the (tiny) batch's own postings, broadcast; the scan
    * side is the index — shingling, df counting, and weighting happened
    * ONCE at build time, so a query pays only the candidate join over
    * its own shingles' postings. Same weights ⇒ results identical to
    * the inline [[sparseTopK]] restricted to the query ids
    * (spec-pinned; shares the generated twin with a query filter). */
  def sparseTopKFromPostings(postings: DataFrame, k: Int,
      nQueries: Int): DataFrame = {
    val q = postings.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("sh_id"),
        col("wgt").as("wa"), col("n2").as("na2"))
    val c = postings.select(col("doc_id").as("neighbor_id"), col("sh_id"),
      col("wgt").as("wb"), col("n2").as("nb2"))
    val dots = broadcast(q).join(c, Seq("sh_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(count(lit(1)).as("shared_shingles"),
        sum(expr("CAST(wa AS DECIMAL(19,0)) * CAST(wb AS DECIMAL(19,0))"))
          .as("dot"),
        first(col("na2")).as("na2"), first(col("nb2")).as("nb2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    dots
      .withColumn("cosine", expr(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id").as("doc_id"), col("neighbor_id"),
        col("shared_shingles"), col("cosine"), col("rank"))
  }

  private def postingsFor(spark: SparkSession, dir: String): String =
    graft.Serving.buildOnce("sparse_postings", dir) { path =>
      buildPostings(Tables.documents(spark, dir))
        .write.mode("overwrite").parquet(path)
    }

  def qSparseTopKServing(spark: SparkSession, dir: String): DataFrame =
    sparseTopKFromPostings(
      spark.read.parquet(postingsFor(spark, dir)), K, NQueries)
      .orderBy(col("doc_id"), col("rank"))

  /** DuckDB twin: identical shingle construction (the oNgramJaccard
    * CTEs), HUGEINT dots/norms, the same single-op float edge. */
  def oSparseTopK: String =
    raw"""WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |shx AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END AS shingles
      |  FROM w),
      |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM shx),
      |dfx AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh HAVING count(*) <= $Cap),
      |n1 AS (SELECT count(*) AS nn FROM documents),
      |post AS (
      |  SELECT doc_id, ex.sh, (nn * $IdfScale) // df AS wgt
      |  FROM ex JOIN dfx USING (sh) CROSS JOIN n1),
      |nrm AS (SELECT doc_id, sum(CAST(wgt AS HUGEINT) * wgt) AS n2 FROM post GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS shared_shingles,
      |         sum(CAST(a.wgt AS HUGEINT) * b.wgt) AS dot
      |  FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT da, db, shared_shingles, dot, na.n2 AS na2, nb.n2 AS nb2
      |  FROM dots JOIN nrm na ON na.doc_id = da JOIN nrm nb ON nb.doc_id = db),
      |sym AS (
      |  SELECT da AS doc_id, db AS neighbor_id, shared_shingles, dot, na2, nb2 FROM c
      |  UNION ALL
      |  SELECT db, da, shared_shingles, dot, nb2, na2 FROM c),
      |sc AS (
      |  SELECT doc_id, neighbor_id, shared_shingles,
      |         CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) AS cosine
      |  FROM sym)
      |SELECT doc_id, neighbor_id, shared_shingles, cosine, CAST(rank AS INTEGER) AS rank
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM sc)
      |WHERE rank <= $K ORDER BY doc_id, rank""".stripMargin

  /** Serving twin: the same chain restricted to the query batch AFTER
    * the per-doc window (ranks are over all neighbors either way, so
    * the post-window filter is exact). */
  def oSparseTopKServing: String =
    oSparseTopK.replace(s"WHERE rank <= $K ORDER BY",
      s"WHERE rank <= $K AND doc_id < $NQueries ORDER BY")
}
