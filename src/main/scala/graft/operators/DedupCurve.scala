package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Settle, Tables}

/** Dedup threshold-sweep curve: how many pairs fire, how many documents
  * are touched, and how much data a keep-min dedup would remove at each
  * candidate Jaccard threshold — from ONE candidate pass.
  *
  * Why it exists: picking the near-dup threshold is the highest-stakes
  * dial in corpus curation (too low deletes good data, too high ships
  * duplicates into training). The naive way to chart the trade-off runs
  * the dedup once per threshold — five full corpus sweeps for a
  * five-point curve. This operator exploits that the candidate set at
  * the LOWEST threshold contains every higher threshold's pairs: one
  * candidate generation + one exact-Jaccard verify, then each pair's
  * integer threshold grade ⌊100·J⌋ is folded into per-threshold counts.
  * At 100 TB the curve costs the same as the single cheapest dedup run.
  *
  * Semantics (mirrored in the oracle): candidates are pairs sharing at
  * least one NON-boilerplate shingle (document frequency ≤ [[Cap]] —
  * the [[Dedup.shingleJaccardPairs]] hot-shingle rule); their Jaccard
  * is then exact over the FULL shingle sets (the
  * [[Dedup.jaccardPrefixPairs]] verify discipline). A pair invisible at
  * this rule shares only boilerplate shingles — exactly the pairs a
  * dedup should not fire on. All grading is integer: a pair passes
  * threshold t% iff 100·inter ≥ t·union iff t ≤ (inter·100) div union.
  *
  * The exact intersection is COUNTED, never re-materialized: shingles
  * are distinct within a document ([[Dedup.shingled]] list_distinct),
  * so the candidate join's per-pair co-occurrence count IS
  * |rare(A ∩ B)| exactly, and the only arrays that ever attach to a
  * pair are the per-doc HOT-shingle sets (boilerplate, ≤ a handful per
  * doc; zero at the test SFs — max df 25 vs Cap 1000) via left joins.
  * The r10 design instead re-joined the FULL shingle arrays onto every
  * candidate for an array_intersect verify — two ~50-element string
  * arrays × ~1.1M candidate pairs at sf0.1 — which made this the
  * suite's slowest, highest-variance query (9.3 s isolated, 19–47 s
  * under full-suite memory pressure). A PPJoin-prefix candidate pass
  * (the [[Dedup.jaccardPrefixPairs]] lemma at t = 50% → prefix = 3/4
  * of each doc) was measured too: it prunes candidates only 1.6×
  * (718k vs 1.13M — at t=0.5 the prefix is most of the set) while
  * adding a df join + per-doc ranking window, and LOST to the count
  * scheme (12.3 s vs ~3 s isolated). Counting needs co-occurrence over
  * ALL rare shingles anyway, which is exactly the candidate join — so
  * the verify is free. At 100 TB the join volume is Σ_sh C(df_sh, 2),
  * bounded per shingle by the Cap rule — the accepted
  * [[Dedup.shingleJaccardPairs]] scale shape.
  *
  * docs_removed counts the keep-min losers (distinct doc_b), the actual
  * data-loss number; removed_bp scales it to the corpus in basis
  * points by long division.
  */
object DedupCurve {

  val Cap = 1000
  val Thresholds = Seq(50, 60, 70, 80, 90)

  def thresholdCurve(docs: DataFrame): DataFrame = {
    val sh = Dedup.shingled(docs)
    Settle.using(sh) {
      val ex0 = sh.select(col("doc_id"),
        explode_outer(col("shingles")).as("sh"))
      val hot = ex0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > Cap).select(col("sh"))
      // per-doc hot-shingle sets (boilerplate-sized) attach at the DOC
      // level — 1 row/doc, never onto the pair table wholesale: the 100k-
      // doc probe measured the two pair-level hot joins shuffling the
      // ~100M-pair table twice, 2.6× the candidate pass itself
      val hotSets = ex0.join(broadcast(hot), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(collect_list(col("sh")).as("hot_sh"))
      val exN = sh.join(hotSets, Seq("doc_id"), "left")
        .withColumn("nh", coalesce(size(col("hot_sh")), lit(0)).cast("long"))
        .select(col("doc_id"), col("n_sh"), col("nh"),
          explode_outer(col("shingles")).as("sh"))
      val rare = exN.join(broadcast(hot), Seq("sh"), "left_anti")
      // one join, one agg: the co-occurrence count IS |rare(A∩B)| because
      // shingles are distinct within a doc — no candidate distinct(), no
      // full-array re-join (scaladoc: the r10 verify-join was the cost).
      // r18: the [[Dedup.groupedPairs]] rewrite was measured here and
      // NOT adopted (3.7/3.8 s join vs 3.8/4.1 s grouped, interleaved
      // ×2 at sf0.1): unlike the plain ngram pairs, each leg here is a
      // cheap projection of the cached doc-grain frame (the hotSets
      // join is broadcast and hot is empty at any sane Cap), so the
      // grouped agg's extra serialization buys no second-derivation
      // saving
      val a = rare.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"),
        col("nh").as("nh_a"), col("sh"))
      val b = rare.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"),
        col("nh").as("nh_b"), col("sh"))
      val counted = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("inter_rare"),
          first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
          first(col("nh_a")).as("nh_a"), first(col("nh_b")).as("nh_b"))
      // provable pre-filter BEFORE any hot array touches a pair: the hot
      // contribution is ≤ min(nh_a, nh_b), so
      //   inter ≤ interMax = inter_rare + least(nh_a, nh_b)
      //   union ≥ n_a + n_b − interMax
      // and pair_t ≥ minThreshold ⟹ interMax·100 ≥ t·(n_a+n_b−interMax).
      // Survivors ≈ the qualifying pairs (EXACT when no hot shingles
      // exist — then interMax = inter_rare); only they pay the hot joins.
      val t0 = Thresholds.min
      val cand = counted
        .withColumn("inter_max", col("inter_rare") + least(col("nh_a"), col("nh_b")))
        .filter(col("inter_max") * 100 >=
          lit(t0) * (col("n_a") + col("n_b") - col("inter_max")))
      val pt = cand
        .join(hotSets.select(col("doc_id").as("doc_a"),
          col("hot_sh").as("hot_a")), Seq("doc_a"), "left")
        .join(hotSets.select(col("doc_id").as("doc_b"),
          col("hot_sh").as("hot_b")), Seq("doc_b"), "left")
        .withColumn("inter", col("inter_rare") +
          when(col("hot_a").isNull || col("hot_b").isNull, lit(0))
            .otherwise(size(array_intersect(col("hot_a"), col("hot_b"))))
            .cast("long"))
        .withColumn("union_sz", col("n_a") + col("n_b") - col("inter"))
        .withColumn("pair_t", expr("(inter * 100) div union_sz"))
        .select(col("doc_a"), col("doc_b"), col("pair_t"))

      val spark = docs.sparkSession
      import spark.implicits._
      val thr = Thresholds.toDF("threshold_pct")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))

      // the grading NEVER fans pairs out by threshold: pair_t is an
      // integer in [min(Thresholds)..100], so each output is a suffix
      // count over a ≤51-row histogram —
      //   pairs_ge(t)      = #pairs with pair_t ≥ t
      //   docs_removed(t)  = #{doc_b : max pair_t over its pairs ≥ t}
      //   docs_affected(t) = #{doc   : max pair_t over pairs touching it ≥ t}
      // (a doc qualifies at t iff its BEST pair does — countDistinct over
      // threshold-expanded rows is the same number computed 5× wider; on
      // a dup-dense corpus the expansion was 3× the candidate pass'
      // cost, measured in the 100k-doc probe). Three one-pass aggs over
      // the qualifying pairs, then broadcast-size arithmetic.
      // qualifying pairs are the DEDUP OUTPUT's size (tiny by the same
      // argument that makes the dedup useful) — materialize them once so
      // the three histogram branches don't re-run the candidate join
      val ptMin = pt.filter(col("pair_t") >= Thresholds.min)
      Settle.using(ptMin)(Settle.shared {
        val pairHist = ptMin.groupBy(col("pair_t"))
          .agg(count(lit(1)).as("c"))
        val remHist = ptMin.groupBy(col("doc_b"))
          .agg(max(col("pair_t")).as("pair_t"))
          .groupBy(col("pair_t")).agg(count(lit(1)).as("c"))
        val affHist = ptMin
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"),
            col("pair_t"))
          .groupBy(col("doc")).agg(max(col("pair_t")).as("pair_t"))
          .groupBy(col("pair_t")).agg(count(lit(1)).as("c"))
        def suffix(hist: DataFrame, out: String): DataFrame =
          thr.join(broadcast(hist), col("pair_t") >= col("threshold_pct"), "left")
            .groupBy(col("threshold_pct"))
            .agg(coalesce(sum(col("c")), lit(0L)).as(out))

        thr.join(suffix(pairHist, "pairs_ge"), Seq("threshold_pct"), "left")
          .join(suffix(affHist, "docs_affected"), Seq("threshold_pct"), "left")
          .join(suffix(remHist, "docs_removed"), Seq("threshold_pct"), "left")
          .crossJoin(broadcast(nDocs))
          .select(col("threshold_pct"),
            coalesce(col("pairs_ge"), lit(0L)).as("pairs_ge"),
            coalesce(col("docs_affected"), lit(0L)).as("docs_affected"),
            coalesce(col("docs_removed"), lit(0L)).as("docs_removed"),
            expr("(coalesce(docs_removed, 0L) * 10000) div n_docs").as("removed_bp"))
          .orderBy(col("threshold_pct"))
      })
    }
  }

  def qThresholdCurve(spark: SparkSession, dir: String): DataFrame =
    thresholdCurve(Tables.documents(spark, dir))

  def oThresholdCurve: String =
    raw"""WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |shx AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END AS shingles
      |  FROM w),
      |sh AS (SELECT doc_id, shingles, len(shingles) AS n_sh FROM shx),
      |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
      |hot AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) > $Cap),
      |rare AS (SELECT * FROM ex WHERE sh NOT IN (SELECT sh FROM hot)),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
      |pt AS (
      |  SELECT doc_a, doc_b,
      |    (len(list_intersect(sa.shingles, sb.shingles)) * 100)
      |      // (sa.n_sh + sb.n_sh - len(list_intersect(sa.shingles, sb.shingles)))
      |      AS pair_t
      |  FROM cands
      |  JOIN sh sa ON sa.doc_id = cands.doc_a
      |  JOIN sh sb ON sb.doc_id = cands.doc_b),
      |thr AS (SELECT unnest([${Thresholds.mkString(", ")}]) AS threshold_pct),
      |kept AS (
      |  SELECT threshold_pct, doc_a, doc_b
      |  FROM pt, thr WHERE pair_t >= threshold_pct),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |pa AS (
      |  SELECT threshold_pct, CAST(count(*) AS BIGINT) AS pairs_ge,
      |         CAST(count(DISTINCT doc_b) AS BIGINT) AS docs_removed
      |  FROM kept GROUP BY 1),
      |da AS (
      |  SELECT threshold_pct, CAST(count(DISTINCT doc) AS BIGINT) AS docs_affected
      |  FROM (SELECT threshold_pct, unnest([doc_a, doc_b]) AS doc FROM kept)
      |  GROUP BY 1)
      |SELECT t.threshold_pct,
      |       coalesce(pairs_ge, CAST(0 AS BIGINT)) AS pairs_ge,
      |       coalesce(docs_affected, CAST(0 AS BIGINT)) AS docs_affected,
      |       coalesce(docs_removed, CAST(0 AS BIGINT)) AS docs_removed,
      |       (coalesce(docs_removed, CAST(0 AS BIGINT)) * 10000) // n_docs AS removed_bp
      |FROM thr t
      |LEFT JOIN pa ON t.threshold_pct = pa.threshold_pct
      |LEFT JOIN da ON t.threshold_pct = da.threshold_pct, nd
      |ORDER BY t.threshold_pct""".stripMargin
}
