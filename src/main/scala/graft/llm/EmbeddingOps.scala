package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.{QueryDef, QueryRegistry, Scratch}
import graft.oracle.OracleSql.{q => oq}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, as a training-data pipeline needs at 100 TB:
  *  - [[cosineTop10]] — brute-force exact top-k: the correctness baseline.
  *    Query set × corpus is a broadcast of the (small) query side; per-pair
  *    cost is one ordered fold over the zipped arrays (codegen'd higher-order
  *    functions, no UDF).
  *  - [[lshBuckets]] / [[annBucketed]] — the scale path: 8-bit
  *    random-hyperplane LSH signature per vector, then candidate generation
  *    is an **equi-join on the bucket key** (shuffle on bucket, never
  *    all-pairs); exact cosine re-ranks within the bucket.
  *
  * Dot products fold left-to-right over `zip_with` in Spark and an indexed
  * list comprehension in DuckDB — identical IEEE accumulation order, so both
  * engines produce bit-identical doubles.
  */
object EmbeddingOps extends QueryRegistry {

  private val Dim = 64
  private val NumPlanes = 8

  /** The embeddings feed, deliberately NOT spread (r18, measured): the
    * fixture-starvation fix that won 2-6× on the multimodal decode rows
    * was tried here and REGRESSED the iterative ops 2-4× (ivf_search
    * 0.43→1.56 s, pq_adc_rerank 0.46→1.09 s at sf0.1) — Lloyd/PQ/MMR
    * re-evaluate the feed per round, so 32 near-empty partitions multiply
    * every round's task-scheduling overhead while the per-partition kernel
    * work is trivial at small SF. Spread pays only when per-row CPU
    * dominates task overhead (the decode loops); at real scale this table
    * arrives wide from the scan on its own. */
  def emb(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "embeddings")

  /** Ordered left-to-right dot product of two float-array columns in double —
    * the native codegen'd kernel ([[org.apache.spark.sql.graft.FloatVecDot]]);
    * bit-identical to the composable HOF formulation
    * (`aggregate(zip_with(...))`) it replaced, ~the similarity hot path. */
  def dotd(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{expressions => ge}
    ge.column(org.apache.spark.sql.graft.FloatVecDot(ge.expression(a), ge.expression(b)))
  }

  def cosine(a: Column, b: Column): Column =
    dotd(a, b) / (sqrt(dotd(a, a)) * sqrt(dotd(b, b)))

  /** Exact brute-force ranking for the `vec_id % 100 = 0` query set:
    * every (query, neighbor) pair scored and rank-numbered on the RAW
    * cosine (ties broken by neighbor_id) — the ground truth the ANN
    * variants cut candidates from. */
  private def bruteRanked(emb: DataFrame): DataFrame = {
    val e = emb.select("vec_id", "embedding")
    val qs = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = broadcast(qs).crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    val wnd = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(wnd))
  }

  /** The shared ANN serving tail: rank `scored` (query_id, neighbor_id,
    * cos) per query by descending cosine with neighbor_id as the
    * deterministic tie-break, keep the top `k`, and emit the
    * decimal-normalized rounded cosine. ONE implementation — five variants
    * carried byte-identical copies whose tie-break or rounding discipline
    * could silently drift apart. */
  private def serveTopK(scored: DataFrame, k: Int = 5): DataFrame = {
    val wnd = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(wnd)).filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).cast("decimal(10,6)").cast("double").as("cosine"))
  }

  /** Exact brute-force cosine top-10 for the `vec_id % 100 = 0` query set. */
  def cosineTop10(emb: DataFrame): DataFrame =
    bruteRanked(emb)
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).cast("decimal(10,6)").cast("double").as("cosine"))

  /** Recall@5 of [[annBucketed]] against the exact brute-force top-5 — the
    * accuracy side of the speed/recall trade the bucket-join candidate cut
    * makes, as a first-class oracle-checked query rather than a probe-tool
    * number. At 100 TB this runs over a query SAMPLE (here the %100 query
    * set) while the ANN index serves the full corpus: the exact side is
    * |queries| × corpus, which the sample keeps bounded. Integer hit
    * counts and one division — cross-engine exact. */
  def annRecall(emb: DataFrame): DataFrame = {
    val exact = bruteRanked(emb).filter(col("rn") <= 5)
      .select("query_id", "neighbor_id")
    val ann = annBucketed(emb)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall_at_5"))
  }

  /** Reciprocal rank of the TRUE nearest neighbor within the ANN's top-5
    * (r11) — the rank-position eval beside [[annRecall]]'s set-membership
    * one: recall@5 says WHETHER the truth surfaced, RR says WHERE (an
    * index serving rank-1 results scores 1.0; truth buried at rank 5
    * scores 0.2; missed scores 0). Per-query rows, not a mean — a
    * cross-query float mean would be accumulation-order-dependent, while
    * each 1/rank is a single exact IEEE division. Exact side runs over the
    * query sample, the ANN over the corpus — the [[annRecall]] scale
    * shape. */
  def annMrr(emb: DataFrame): DataFrame = {
    val top1 = bruteRanked(emb).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("top1_id"))
    val wb = withBucket(emb)
    val qs = wb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val wnd = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val ann = qs.join(wb, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id").as("top1_id"),
        col("rn").cast("long").as("ann_rank"))
    top1.join(ann, Seq("query_id", "top1_id"), "left")
      .select(col("query_id"), col("top1_id"), col("ann_rank"),
        coalesce(lit(1.0) / col("ann_rank"), lit(0.0)).as("rr"))
  }

  /** Deterministic pseudo-random hyperplane component (identical arithmetic
    * in both engines): w(j)(i) = ((j*31 + i*17) mod 7) - 3, i 1-based. */
  private def planeWeights(j: Int): Column =
    array((1 to Dim).map(i => lit((((j * 31 + i * 17) % 7) - 3).toDouble)): _*)

  private def planeBit(j: Int): Column =
    when(aggregate(zip_with(col("embedding"), planeWeights(j), (x, w) => x.cast("double") * w),
      lit(0.0), (acc, x) => acc + x) > 0, lit("1")).otherwise(lit("0"))

  /** 8-bit LSH signature per vector. */
  def lshBuckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), concat((1 to NumPlanes).map(planeBit): _*).as("bucket"))

  /** Vectors with their bucket attached — a narrow projection (the bucket is
    * computed from the embedding column), not a self-join: one scan, no
    * shuffle. */
  private def withBucket(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      concat((1 to NumPlanes).map(planeBit): _*).as("bucket"))

  /** Bucket histogram — the partitioning an ANN index would shard by. */
  def lshBucketSizes(emb: DataFrame): DataFrame =
    lshBuckets(emb).groupBy("bucket").agg(count(lit(1)).as("n_vectors"))

  /** ANN: candidates restricted to the query's bucket (equi-join on the LSH
    * key), exact cosine re-rank, top-5. */
  def annBucketed(emb: DataFrame): DataFrame = {
    val wb = withBucket(emb)
    val qs = wb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val scored = qs.join(wb, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    serveTopK(scored)
  }

  /** Filtered ANN (r11) — vector search constrained by a metadata
    * predicate, the retrieval-stack staple ("nearest English docs",
    * "same-tenant vectors only"). This is the PRE-filter form: the
    * predicate prunes the CANDIDATE corpus before the bucket equi-join, so
    * recall over the admissible set is exactly [[annBucketed]]'s — the
    * post-filter alternative (rank first, filter the top-k after) silently
    * returns fewer than k or nothing when the predicate is selective. At
    * scale the predicate is a map-side scan filter (pushed to parquet for
    * column predicates): fewer candidates ever reach the shuffle, queries
    * stay unfiltered. */
  def annBucketedFiltered(emb: DataFrame, pred: Column): DataFrame = {
    val qs = withBucket(emb).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val cand = withBucket(emb.filter(pred))
    val scored = qs.join(cand, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    serveTopK(scored)
  }

  /** Persisted ANN index (r11) — the index-build/serve split a production
    * vector store runs on: the corpus is written ONCE partitioned by LSH
    * bucket, so the bucket key becomes the physical directory layout and a
    * query batch touches only its buckets' files at read time. */
  def writeAnnIndex(emb: DataFrame, path: String): Unit =
    withBucket(emb).write.partitionBy("bucket").parquet(path)

  /** Serve a query set from a persisted index: identical candidate/rank
    * semantics to [[annBucketed]], but candidates come from the INDEX TABLE
    * on disk. The equi-join key IS the partition column, and the query side
    * is small, so dynamic partition pruning derives the touched bucket set
    * from the broadcast queries and the scan opens only those directories —
    * the disk-layout analog of the in-memory bucket cut (plan-asserted in
    * the spec). At 100 TB this is why the index is a table: a query batch
    * reads its probe buckets, never the corpus. */
  def annFromIndex(spark: SparkSession, indexPath: String, queries: DataFrame): DataFrame = {
    val index = spark.read.parquet(indexPath)
    val qs = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("bucket"))
    val scored = qs.join(index, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    serveTopK(scored)
  }

  /** Build-then-serve roundtrip: the persisted index must answer exactly
    * like the in-memory bucket join — shares `emb_ann_bucketed`'s oracle. */
  private def annIndexRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir("graft_ann_idx_") + "/index"
    val e = emb(spark, dir)
    writeAnnIndex(e, path)
    annFromIndex(spark, path, withBucket(e).filter(col("vec_id") % 100 === 0))
  }

  /** Hard-negative mining (r11) — the contrastive-training staple: for each
    * query, the k most-similar corpus vectors BELOW the positive threshold.
    * Vectors at `cos >= posThreshold` are the near-duplicate/positive band
    * ([[cosineNearDup]]'s default 0.35) — useless as negatives and harmful
    * if sampled as such — so the hardest (most informative) negatives are
    * the highest-scoring vectors just under that line; random negatives are
    * too easy and the model learns nothing from them. The threshold and the
    * rank both apply to the 6-dp ROUNDED cosine, so the cut boundary and
    * tie order are cross-engine deterministic (ranking the raw double and
    * thresholding the rounded one could disagree exactly at the boundary).
    * Scale shape: identical to [[annBucketed]] — LSH-bucket equi-join
    * candidate generation, never query × corpus; the bucket already holds
    * the most-similar vectors, which is exactly where hard negatives live. */
  def hardNegatives(emb: DataFrame, posThreshold: Double = 0.35, k: Int = 3): DataFrame = {
    val wb = withBucket(emb)
    val qs = wb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val scored = qs.join(wb, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 6)
          .cast("decimal(10,6)").cast("double").as("cosine"))
      .filter(col("cosine") < posThreshold)
    val wnd = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rn").cast("long").as("rn"))
  }

  /** Greedy k-center (farthest-point) diversity sampling (r11) — coreset
    * selection for training-data diversity (Gonzalez's 2-approximation to
    * the k-center objective): start from the smallest vec_id, repeatedly
    * adopt the vector FARTHEST from the selected set, i.e. the argmax of
    * each vector's min cosine-distance to any chosen center. Selection is
    * inherently sequential (k rounds), but each round is ONE narrow pass:
    * the running min-distance column updates against only the NEWEST
    * center (a broadcast literal), then a 1-row argmax collects — no
    * pairwise matrix, no k×corpus re-scoring, the incremental-min trick
    * that makes greedy k-center linear per round. Distances are rounded to
    * 6 dp BEFORE the argmax so selection is cross-engine deterministic;
    * ties break on vec_id. */
  def kcenterSample(emb: DataFrame, k: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    def distTo(center: Seq[Float]): Column =
      round(lit(1.0) - cosine(col("embedding"), typedLit(center.toArray)), 6)
    val seed = base.orderBy("vec_id").limit(1).collect()(0)
    val seedId = seed.getLong(0)
    // localCheckpoint per round (r17, the bpeTrain/mmrRerank fix class):
    // a cached chain still analyzes an i-deep plan every round and needs
    // an eager count + unpersist dance per round just to bound the cache
    // footprint; checkpointing truncates the plan to the materialized
    // rows in the same job and blocks release via the context cleaner
    var state = base.filter(col("vec_id") =!= seedId)
      .withColumn("min_dist", distTo(seed.getSeq[Float](1))).localCheckpoint()
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, seedId, None))
    for (i <- 2 to k) {
      val best = state.orderBy(col("min_dist").desc, col("vec_id")).limit(1)
        .select("vec_id", "min_dist", "embedding").collect()(0)
      picks += ((i, best.getLong(0), Some(best.getDouble(1))))
      if (i < k)
        state = state.filter(col("vec_id") =!= best.getLong(0))
          .withColumn("min_dist",
            least(col("min_dist"), distTo(best.getSeq[Float](2)))).localCheckpoint()
    }
    picks.toSeq.toDF("sample_rank", "vec_id", "min_dist")
  }

  /** Unrolled oracle for [[kcenterSample]]: per round, the argmax CTE and
    * the incremental min-distance CTE — the distance frames MATERIALIZED
    * (each is referenced twice; an unmaterialized chain re-evaluates
    * upstream exponentially, the doc_bpe_merges lesson). */
  private def kcenterOracle(k: Int): String = {
    val sb = new StringBuilder
    sb.append("""
      , kc0 AS (SELECT vec_id, embedding FROM embeddings),
      ks1 AS MATERIALIZED (SELECT vec_id, embedding FROM kc0 ORDER BY vec_id LIMIT 1),
      kd1 AS MATERIALIZED (
        SELECT c.vec_id, c.embedding,
               round(1.0 - """ + sqlCos("c.embedding", "s.embedding") + """, 6) AS md
        FROM kc0 c, ks1 s WHERE c.vec_id <> s.vec_id)""")
    for (i <- 2 to k) {
      val (p, dPrev, d) = (s"kp$i", s"kd${i - 1}", s"kd$i")
      sb.append(s""",
      $p AS MATERIALIZED (SELECT vec_id, embedding, md FROM $dPrev
                          ORDER BY md DESC, vec_id LIMIT 1)""")
      if (i < k) sb.append(s""",
      $d AS MATERIALIZED (
        SELECT c.vec_id, c.embedding,
               least(c.md, round(1.0 - ${sqlCos("c.embedding", "p.embedding")}, 6)) AS md
        FROM $dPrev c, $p p WHERE c.vec_id <> p.vec_id)""")
    }
    sb.append("""
      SELECT 1 AS sample_rank, vec_id, CAST(NULL AS DOUBLE) AS min_dist FROM ks1""")
    (2 to k).foreach(i => sb.append(s"""
      UNION ALL SELECT $i AS sample_rank, vec_id, md AS min_dist FROM kp$i"""))
    sb.toString
  }

  /** Per-dimension distribution report (r11) — the feature-QA pass run
    * before normalization or quantization commits to per-dim ranges:
    * median, quartiles, IQR, and the count of values beyond the 1.5·IQR
    * Tukey fences for every embedding dimension. Exact percentiles are
    * order-INdependent (sort-based, not accumulation-based), so they are
    * the rare float statistic both engines agree on; quartiles go through
    * round(…,6) before any derived arithmetic, so the fences are
    * bit-identical by construction. Two aggregations over the posexploded
    * values; the |dims|-row quartile frame broadcasts back. The 100 TB
    * form — `approx_percentile` per dim, sketch-mergeable, same shape —
    * is [[embDimStatsApprox]], rank-contract-gated. */
  private def dimVals(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("pos0", "vf")))
      .select((col("pos0") + 1).as("dim"), col("vf").cast("double").as("v"))

  def embDimStats(emb: DataFrame): DataFrame = {
    val vals = dimVals(emb)
    val q = vals.groupBy("dim").agg(
      round(expr("percentile(v, 0.25D)"), 6).as("q1"),
      round(expr("percentile(v, 0.5D)"), 6).as("median"),
      round(expr("percentile(v, 0.75D)"), 6).as("q3"),
      count(lit(1)).as("n"))
    val iqr = col("q3") - col("q1")
    vals.join(broadcast(q), Seq("dim"))
      .groupBy(col("dim"), col("n"), col("median"), col("q1"), col("q3"))
      .agg(sum(when(col("v") < col("q1") - iqr * 1.5 ||
          col("v") > col("q3") + iqr * 1.5, 1L).otherwise(0L)).as("n_outliers"))
      .select(col("dim"), col("n"), col("median"), col("q1"), col("q3"),
        iqr.as("iqr"), col("n_outliers"))
  }

  /** The 100 TB opt-in variant of [[embDimStats]] (r12, VERDICT r11 #2 —
    * the swap the exact form's doc promised, now runnable): per-dim
    * quartiles from `approx_percentile` (Greenwald–Khanna, rank error
    * ≤ n/accuracy), whose sketches are MERGEABLE — partial aggregation
    * combines per-partition sketches instead of sorting each dim's value
    * column, the property that makes the pass feasible when one dim's
    * values no longer sort in memory. Same fence/outlier shape; quartiles
    * are actual data values (GK returns sample points, no interpolation),
    * so they are deliberately NOT rounded — there is no synthetic
    * interpolated float to stabilize. */
  def embDimStatsApprox(emb: DataFrame, accuracy: Int = 1000): DataFrame = {
    val vals = dimVals(emb)
    val q = vals.groupBy("dim").agg(
      expr(s"approx_percentile(v, 0.25D, $accuracy)").as("q1"),
      expr(s"approx_percentile(v, 0.5D, $accuracy)").as("median"),
      expr(s"approx_percentile(v, 0.75D, $accuracy)").as("q3"),
      count(lit(1)).as("n"))
    val iqr = col("q3") - col("q1")
    vals.join(broadcast(q), Seq("dim"))
      .groupBy(col("dim"), col("n"), col("median"), col("q1"), col("q3"))
      .agg(sum(when(col("v") < col("q1") - iqr * 1.5 ||
          col("v") > col("q3") + iqr * 1.5, 1L).otherwise(0L)).as("n_outliers"))
      .select(col("dim"), col("n"), col("median"), col("q1"), col("q3"),
        iqr.as("iqr"), col("n_outliers"))
  }

  /** Shared oracle for the exact dim-stats report and the approx gate row
    * (which self-asserts the sketch and emits the exact frame). */
  private def dimStatsOracleSql: String = s"""
      , dvals AS (
          SELECT t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
          FROM embeddings CROSS JOIN generate_series(1, $Dim) t(i)),
      dq AS (
          SELECT dim, round(quantile_cont(v, 0.25), 6) AS q1,
                 round(quantile_cont(v, 0.5), 6) AS median,
                 round(quantile_cont(v, 0.75), 6) AS q3,
                 count(*) AS n
          FROM dvals GROUP BY 1)
      SELECT q.dim, q.n, q.median, q.q1, q.q3, q.q3 - q.q1 AS iqr,
             CAST(sum(CASE WHEN d.v < q.q1 - (q.q3 - q.q1) * 1.5
                            OR d.v > q.q3 + (q.q3 - q.q1) * 1.5
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dvals d JOIN dq q ON d.dim = q.dim
      GROUP BY q.dim, q.n, q.median, q.q1, q.q3"""

  /** Gate face of [[embDimStatsApprox]]: PROVES the approx path honors its
    * rank contract, then emits the exact report for the shared oracle. For
    * every dim and quartile p, the returned value's rank interval
    * [count(v<a)+1, count(v≤a)] must intersect ⌈p·n⌉ ± (n/accuracy + 1) —
    * the GK guarantee verified against the data itself, not against a
    * tolerance picked to pass. A sketch regression turns this row RED. */
  def embDimStatsApproxChecked(emb: DataFrame, accuracy: Int = 1000): DataFrame = {
    val a = embDimStatsApprox(emb, accuracy)
    val checks = dimVals(emb)
      .join(broadcast(a.select("dim", "n", "q1", "median", "q3")), Seq("dim"))
      .groupBy("dim", "n")
      .agg(
        sum(when(col("v") <= col("q1"), 1L).otherwise(0L)).as("le1"),
        sum(when(col("v") < col("q1"), 1L).otherwise(0L)).as("lt1"),
        sum(when(col("v") <= col("median"), 1L).otherwise(0L)).as("le2"),
        sum(when(col("v") < col("median"), 1L).otherwise(0L)).as("lt2"),
        sum(when(col("v") <= col("q3"), 1L).otherwise(0L)).as("le3"),
        sum(when(col("v") < col("q3"), 1L).otherwise(0L)).as("lt3"))
      .collect()
    checks.foreach { r =>
      val n = r.getAs[Long]("n")
      val tol = n.toDouble / accuracy + 1
      Seq((0.25, "le1", "lt1"), (0.5, "le2", "lt2"), (0.75, "le3", "lt3"))
        .foreach { case (p, le, lt) =>
          val target = math.ceil(p * n)
          require(r.getAs[Long](lt) < target + tol && r.getAs[Long](le) >= target - tol,
            s"approx_percentile($p) rank violation on dim ${r.getAs[Long]("dim")}: " +
              s"rank interval [${r.getAs[Long](lt) + 1}, ${r.getAs[Long](le)}] " +
              s"vs target $target ± $tol")
        }
    }
    embDimStats(emb)
  }

  /** Feature-drift report (r11) — per-dimension distribution SHIFT between
    * a reference slice and a current slice of the embedding corpus: the
    * monitoring pass that catches a silently retrained/upgraded encoder or
    * an upstream preprocessing change before it poisons dedup thresholds
    * and ANN recall. Per dim and slice: sort-based median and IQR (the one
    * float statistic both engines compute identically, 6-dp rounded — the
    * [[embDimStats]] discipline), then the median shift NORMALIZED by the
    * reference IQR — a robust scale-free effect size (PSI-like without its
    * cross-engine-hostile log); a dim flags when |shift| exceeds half a
    * reference IQR. Zero-IQR reference dims report an unnormalized shift
    * and never flag (no scale to judge by). Shape: one posexplode pass,
    * a (dim × slice) aggregate — 2·|dims| rows — and a dim-keyed join of
    * two tiny frames. */
  def embDriftReport(emb: DataFrame, current: Column): DataFrame = {
    val vals = emb.select(current.as("cur"),
        posexplode(col("embedding")).as(Seq("pos0", "vf")))
      .select(col("cur"), (col("pos0") + 1).as("dim"), col("vf").cast("double").as("v"))
    val stats = vals.groupBy("dim", "cur").agg(
      count(lit(1)).as("n"),
      round(expr("percentile(v, 0.5D)"), 6).as("median"),
      round(expr("percentile(v, 0.75D)") - expr("percentile(v, 0.25D)"), 6).as("iqr"))
    val ref = stats.filter(!col("cur"))
      .select(col("dim"), col("n").as("n_ref"),
        col("median").as("median_ref"), col("iqr").as("iqr_ref"))
    val cur = stats.filter(col("cur"))
      .select(col("dim"), col("n").as("n_cur"), col("median").as("median_cur"))
    val shift = col("median_cur") - col("median_ref")
    val norm = when(col("iqr_ref") > 0, shift / col("iqr_ref"))
    ref.join(cur, Seq("dim"))
      .select(col("dim"), col("n_ref"), col("n_cur"),
        col("median_ref"), col("median_cur"), col("iqr_ref"),
        shift.as("shift"), norm.as("norm_shift"),
        coalesce(abs(norm) > 0.5, lit(false)).as("drifted"))
  }

  /** MMR (maximal-marginal-relevance) diversity re-rank (r11) — the
    * retrieval-stack stage between ANN and the consumer: from each query's
    * top-`nCand` candidate window, greedily select `k` results maximizing
    * `0.7·rel(q,d) − 0.3·max_{s∈S} sim(d,s)` (Carbonell & Goldstein '98),
    * so two near-duplicate passages never both fill the context window.
    *
    * Unlike [[kcenterSample]] (global selection, 1-row argmax collects),
    * EVERY query advances through the k greedy rounds simultaneously and
    * nothing ever reaches the driver. The k greedy rounds run MAP-SIDE over
    * each query's collected candidate array (r20 — one shuffle total): the
    * per-round pick is an `aggregate` argmax over the ≤nCand-element array
    * under the same (score desc, cand_id asc) total order the old
    * `row_number` window used (argmax under a strict total order is
    * fold-order-independent), and the running max-similarity update is a
    * `transform` against only that round's pick (the incremental-max
    * trick). The previous shape paid a window + an equi-join + a
    * localCheckpoint materialization PER ROUND — 2k+1 sequential jobs whose
    * scheduling floor dominated the row (probed: tools/MmrProbe @ 8323d6e) — where
    * this is one window + one per-query aggregate, with the rounds fused
    * into the projection. All rounds operate on the rerank window —
    * |queries|·nCand rows, independent of corpus size; candidate generation
    * is the ANN stage's job. Similarities go through the decimal(10,6)
    * normalization before scoring and ties break on cand_id, so selection
    * is cross-engine deterministic; the 0.7/0.3 weights are written as
    * separate literals in both engines (never `1−λ`, whose double differs
    * from the literal `0.3`). */
  def mmrRerank(emb: DataFrame, k: Int = 5, nCand: Int = 20): DataFrame = {
    val e = emb.select("vec_id", "embedding")
    val qs = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def r6(c: Column): Column = round(c, 6).cast("decimal(10,6)").cast("double")
    val wnd = Window.partitionBy("query_id").orderBy(col("raw").desc, col("cand_id"))
    // one candidate array per query; sort_array for a deterministic layout
    // (the result is provably layout-independent — see the argmax note —
    // but a canonical order keeps plans/debug dumps stable). The groupBy
    // rides the window's query_id partitioning: no second exchange.
    val cands0 = broadcast(qs).crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("embedding"),
        cosine(col("qe"), col("embedding")).as("raw"))
      .withColumn("rn", row_number().over(wnd)).filter(col("rn") <= nCand)
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("cand_id"),
        r6(col("raw")).as("rel"), col("embedding"),
        lit(-1.0).as("max_sim")))).as("cands0"))
    def score(c: Column): Column = lit(0.7) * c("rel") - lit(0.3) * c("max_sim")
    // strict total order (cand_id is unique within a query), so the fold's
    // running argmax equals the old window's row_number()=1 pick exactly
    def better(c: Column, best: Column): Column =
      score(c) > score(best) ||
        (score(c) === score(best) && c("cand_id") < best("cand_id"))
    var st = cands0
    for (r <- 1 to k) {
      val prev = col(s"cands${r - 1}")
      // try_element_at: an exhausted candidate array (query with < k
      // candidates) yields a NULL pick — filtered out of the emit below,
      // reproducing the old shape's inner-join drop-out semantics
      st = st.withColumn(s"sel$r",
        aggregate(prev, try_element_at(prev, lit(1)),
          (best, c) => when(better(c, best), c).otherwise(best)))
      if (r < k) {
        val sel = col(s"sel$r")
        st = st.withColumn(s"cands$r",
          transform(filter(prev, c => c("cand_id") =!= sel("cand_id")),
            c => struct(c("cand_id").as("cand_id"), c("rel").as("rel"),
              c("embedding").as("embedding"),
              greatest(c("max_sim"),
                r6(cosine(c("embedding"), sel("embedding")))).as("max_sim"))))
      }
    }
    val picks = array((1 to k).map { r =>
      struct(lit(r).as("mmr_rank"), col(s"sel$r")("cand_id").as("neighbor_id"),
        col(s"sel$r")("rel").as("relevance"))
    }: _*)
    st.select(col("query_id"),
        explode(filter(picks, p => p("neighbor_id").isNotNull)).as("p"))
      .select(col("query_id"), col("p.mmr_rank").as("mmr_rank"),
        col("p.neighbor_id").as("neighbor_id"), col("p.relevance").as("relevance"))
  }

  /** Unrolled oracle for [[mmrRerank]]: per round, the per-query argmax CTE
    * and the incremental max-sim CTE, MATERIALIZED (each state is referenced
    * twice — the doc_bpe_merges lesson). */
  private def mmrOracle(k: Int, nCand: Int): String = {
    def r6(x: String) = s"CAST(CAST(round($x, 6) AS DECIMAL(10,6)) AS DOUBLE)"
    val sb = new StringBuilder
    sb.append(s"""
      , mq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0),
      mraw AS (
        SELECT q.query_id, e.vec_id AS cand_id, e.embedding,
               ${sqlCos("q.qe", "e.embedding")} AS raw
        FROM mq q, embeddings e WHERE e.vec_id <> q.query_id),
      ms0 AS MATERIALIZED (
        SELECT query_id, cand_id, embedding, ${r6("raw")} AS rel,
               CAST(-1.0 AS DOUBLE) AS max_sim
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, cand_id) AS rn
              FROM mraw) WHERE rn <= $nCand)""")
    for (r <- 1 to k) {
      sb.append(s""",
      mp$r AS MATERIALIZED (
        SELECT query_id, cand_id, embedding, rel
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY 0.7 * rel - 0.3 * max_sim DESC, cand_id) AS srn
              FROM ms${r - 1}) WHERE srn = 1)""")
      if (r < k) sb.append(s""",
      ms$r AS MATERIALIZED (
        SELECT c.query_id, c.cand_id, c.embedding, c.rel,
               greatest(c.max_sim, ${r6(sqlCos("c.embedding", "p.embedding"))}) AS max_sim
        FROM ms${r - 1} c JOIN mp$r p
          ON c.query_id = p.query_id AND c.cand_id <> p.cand_id)""")
    }
    sb.append(s"""
      SELECT query_id, 1 AS mmr_rank, cand_id AS neighbor_id, rel AS relevance FROM mp1""")
    (2 to k).foreach(r => sb.append(s"""
      UNION ALL SELECT query_id, $r AS mmr_rank, cand_id AS neighbor_id, rel AS relevance FROM mp$r"""))
    sb.toString
  }

  /** Multi-probe ANN (Hamming ≤ 1): each query probes its own LSH bucket
    * PLUS the 8 buckets one bit-flip away — the standard multi-probe LSH
    * recall fix for the single-bucket loss `tools/QuantRecallProbe @ 8323d6e` measures
    * (a near-random corpus splits true neighbors across adjacent buckets).
    * Shape is unchanged at scale: the query side explodes 9x (still tiny)
    * and candidates remain an equi-join on the bucket key — candidate mass
    * grows ~9× over [[annBucketed]], never toward all-pairs. Probe buckets
    * are distinct by construction, so no pair is scored twice. */
  def annMultiProbe(emb: DataFrame): DataFrame = {
    val wb = withBucket(emb)
    val flips = (1 to NumPlanes).map { j =>
      concat(
        substring(col("bucket"), 1, j - 1),
        when(substring(col("bucket"), j, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bucket"), j + 1, NumPlanes - j))
    }
    val qs = wb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(array(col("bucket") +: flips: _*)).as("bucket"))
    val scored = qs.join(wb, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    serveTopK(scored)
  }

  /** Embedding-cosine near-duplicate detection: candidate pairs from the LSH
    * bucket equi-join (never all-pairs), exact cosine filter at `threshold`,
    * emitted as (keep = smaller vec_id, dup = larger). */
  def cosineNearDup(emb: DataFrame, threshold: Double = 0.35): DataFrame = {
    val wb = withBucket(emb)
    val a = wb.select(col("bucket"), col("vec_id").as("keep_id"), col("embedding").as("ea"))
    val b = wb.select(col("bucket"), col("vec_id").as("dup_id"), col("embedding").as("eb"))
    a.join(b, Seq("bucket"))
      .filter(col("keep_id") < col("dup_id"))
      .select(col("keep_id"), col("dup_id"),
        round(cosine(col("ea"), col("eb")), 6).cast("decimal(10,6)").cast("double").as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Semantic-channel near-dup clusters: the generic
    * [[TextOps.connectedComponents]] solver over [[cosineNearDup]]'s
    * verified pair stream — the third clustering channel after MinHash
    * ([[TextOps.dedupClusters]]) and SimHash ([[TextOps.simhashClusters]]).
    * Catches paraphrase duplicates the lexical channels can't see; the edge
    * set is bucketed-LSH output, so the size gate almost always solves on
    * the driver. */
  def embDedupClusters(emb: DataFrame, threshold: Double = 0.35): DataFrame =
    TextOps.connectedComponents(cosineNearDup(emb, threshold)
      .select(col("keep_id").as("src"), col("dup_id").as("dst")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))

  /** HOF dot in double over any numeric array pair (the centroid side is
    * double, so the native float-only kernel doesn't apply). */
  private def dotAny(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def cosAny(a: Column, b: Column): Column =
    dotAny(a, b) / (sqrt(dotAny(a, a)) * sqrt(dotAny(b, b)))

  /** Per-vector cohesion to its label centroid — the class-outlier filter a
    * curation pipeline ranks by (low cohesion = likely mislabeled/noise).
    * The centroid is a per-(label, dim) mean: one posexplode aggregation
    * shuffle of n×dim scalar rows with map-side partial means (corpus rows
    * never move whole), then the |labels|-row centroid frame broadcasts back
    * onto the corpus for a narrow per-row cosine. Cross-engine mean-order
    * freedom is ~1e-13 relative, far below the 6-dp discretization (the IVF
    * oracle's tolerance argument, `IvfAnnQueries`). */
  def labelCohesion(emb: DataFrame): DataFrame = {
    val cents = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s("m")).as("ce"))
    emb.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(cosAny(col("embedding"), col("ce")), 6)
          .cast("decimal(10,6)").cast("double").as("cos_centroid"))
  }

  /** Int8 scalar-quantization quality report: per-dimension min/max over the
    * corpus define a 255-step linear code per dim; each vector reports its
    * max and mean absolute reconstruction error — the go/no-go evidence for
    * shrinking a 100 TB float corpus 4× before ANN indexing. The 64-row
    * dim-stats frame broadcasts back onto the corpus (same shape as
    * [[labelCohesion]]); codes/errors are per-element arithmetic over
    * identical doubles in both engines, means fold in index order. */
  def quantizeInt8Stats(emb: DataFrame): DataFrame = {
    val dimStats = emb
      .select(posexplode(col("embedding")))
      .groupBy("pos")
      .agg(min(col("col").cast("double")).as("mn"), max(col("col").cast("double")).as("mx"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))),
        s => struct(s("mn").as("mn"), s("mx").as("mx"))).as("stats"))
    val errs = zip_with(col("embedding"), col("stats"), (x, st) => {
      val xd = x.cast("double")
      val scale = (st("mx") - st("mn")) / 255.0
      val recon = when(st("mx") === st("mn"), st("mn"))
        .otherwise(st("mn") + round((xd - st("mn")) / scale) * scale)
      abs(xd - recon)
    })
    emb.crossJoin(broadcast(dimStats))
      .select(col("vec_id"),
        round(array_max(errs), 6).cast("decimal(10,6)").cast("double").as("max_abs_err"),
        round(aggregate(errs, lit(0.0), (acc, e) => acc + e) / size(col("embedding")), 6)
          .cast("decimal(10,6)").cast("double").as("mean_abs_err"))
  }

  /** The int8 reconstruction of the corpus (VERDICT r8 #6): per-dim min/max
    * define the 255-step code ([[quantizeInt8Stats]]' exact arithmetic);
    * each vector decodes to `mn + round((x-mn)/scale)*scale` per dimension.
    * This is what an ANN index built over int8 codes actually searches —
    * the 64-row stats frame broadcasts, the decode is a narrow per-row
    * projection, and at 100 TB the corpus stores/ships 4× smaller. */
  def quantizeDecode(emb: DataFrame): DataFrame = {
    val dimStats = emb
      .select(posexplode(col("embedding")))
      .groupBy("pos")
      .agg(min(col("col").cast("double")).as("mn"), max(col("col").cast("double")).as("mx"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))),
        s => struct(s("mn").as("mn"), s("mx").as("mx"))).as("stats"))
    val recon = zip_with(col("embedding"), col("stats"), (x, st) => {
      val xd = x.cast("double")
      val scale = (st("mx") - st("mn")) / 255.0
      when(st("mx") === st("mn"), st("mn"))
        .otherwise(st("mn") + round((xd - st("mn")) / scale) * scale)
    })
    emb.crossJoin(broadcast(dimStats))
      .select(col("vec_id"), recon.as("embedding"))
  }

  /** [[annBucketed]] over the int8-DECODED corpus — the quantized search
    * path composed end-to-end: buckets, candidates and the exact re-rank all
    * evaluate on reconstructed vectors, exactly as a deployed int8 index
    * would (the float corpus never enters the search). Double arrays, so the
    * HOF cosine ([[cosAny]]) re-ranks instead of the float-native kernel.
    * Recall vs the float path is measured by `tools/QuantRecallProbe @ 8323d6e`
    * (COVERAGE.md). */
  def annBucketedQuantized(emb: DataFrame): DataFrame = {
    val wb = quantizeDecode(emb)
      .select(col("vec_id"), col("embedding"),
        concat((1 to NumPlanes).map(planeBit): _*).as("bucket"))
    val qs = wb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    val scored = qs.join(wb, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosAny(col("qe"), col("embedding")).as("cos"))
    serveTopK(scored)
  }

  private def sqlDot(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN generate_series(1, $Dim)])"

  /** Oracle-side cosine over float lists — the DuckDB mirror of [[cosine]]
    * (bit-identical fold order; shared with the IVF search oracle). */
  private[llm] def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  private def sqlBit(j: Int): String =
    s"CASE WHEN list_sum([CAST(embedding[i] AS DOUBLE) * ((($j*31 + i*17) % 7) - 3) " +
      s"FOR i IN generate_series(1, $Dim)]) > 0 THEN '1' ELSE '0' END"

  private val sqlBuckets =
    s"buckets AS (SELECT vec_id, ${(1 to NumPlanes).map(sqlBit).mkString(" || ")} AS bucket FROM embeddings)"

  private lazy val annBucketedOracle: String = oq(s"""
      , $sqlBuckets,
      wb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      qs AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM wb WHERE vec_id % 100 = 0),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, ${sqlCos("q.qe", "e.embedding")} AS cos
        FROM qs q JOIN wb e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored)
      SELECT query_id, neighbor_id, CAST(CAST(round(cos, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
      FROM ranked WHERE rn <= 5""")

  def defs: Seq[QueryDef] = Seq(
    QueryDef("emb_cosine_top10", (s, d) => cosineTop10(emb(s, d)), Some(oq(s"""
      , qs AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, ${sqlCos("q.qe", "e.embedding")} AS cos
        FROM qs q, embeddings e WHERE e.vec_id <> q.query_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored)
      SELECT query_id, neighbor_id, CAST(CAST(round(cos, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
      FROM ranked WHERE rn <= 10"""))),

    QueryDef("emb_lsh_buckets", (s, d) => lshBuckets(emb(s, d)), Some(oq(s"""
      , $sqlBuckets
      SELECT vec_id, bucket FROM buckets"""))),

    QueryDef("emb_lsh_bucket_sizes", (s, d) => lshBucketSizes(emb(s, d)), Some(oq(s"""
      , $sqlBuckets
      SELECT bucket, count(*) AS n_vectors FROM buckets GROUP BY bucket"""))),

    QueryDef("emb_cosine_near_dup", (s, d) => cosineNearDup(emb(s, d), 0.35), Some(oq(s"""
      , $sqlBuckets,
      wb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      pairs AS (
        SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
               CAST(CAST(round(${sqlCos("a.embedding", "b.embedding")}, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
        FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT keep_id, dup_id, cosine FROM pairs WHERE cosine >= 0.35"""))),

    // Standalone WITH RECURSIVE (transitive closure; embeddings-only — no
    // warehouse prelude needed), same pattern as doc_dedup_clusters.
    QueryDef("emb_dedup_clusters", (s, d) => embDedupClusters(emb(s, d), 0.35), Some(s"""
      WITH RECURSIVE $sqlBuckets,
      wb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      epairs AS (
        SELECT a.vec_id AS keep_id, b.vec_id AS dup_id
        FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE CAST(CAST(round(${sqlCos("a.embedding", "b.embedding")}, 6) AS DECIMAL(10,6)) AS DOUBLE) >= 0.35),
      eedges AS (SELECT keep_id AS src, dup_id AS dst FROM epairs
                 UNION ALL
                 SELECT dup_id, keep_id FROM epairs),
      ereach AS (
        SELECT src AS vec_id, src AS label FROM eedges
        UNION
        SELECT e.src AS vec_id, r.label FROM eedges e JOIN ereach r ON r.vec_id = e.dst)
      SELECT vec_id, min(label) AS cluster_id FROM ereach GROUP BY vec_id""")),

    QueryDef("emb_quantize_int8", (s, d) => quantizeInt8Stats(emb(s, d)), Some(oq(s"""
      , dim_stats AS (
          SELECT t.i AS pos, min(CAST(embedding[t.i] AS DOUBLE)) AS mn,
                 max(CAST(embedding[t.i] AS DOUBLE)) AS mx
          FROM embeddings CROSS JOIN generate_series(1, $Dim) t(i)
          GROUP BY t.i),
      stats AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM dim_stats),
      errs AS (
          SELECT e.vec_id,
                 [CASE WHEN s.mxs[i] = s.mns[i] THEN abs(CAST(e.embedding[i] AS DOUBLE) - s.mns[i])
                       ELSE abs(CAST(e.embedding[i] AS DOUBLE) -
                                (s.mns[i] + round((CAST(e.embedding[i] AS DOUBLE) - s.mns[i])
                                                  / ((s.mxs[i] - s.mns[i]) / 255.0))
                                           * ((s.mxs[i] - s.mns[i]) / 255.0))) END
                  FOR i IN generate_series(1, $Dim)] AS el
          FROM embeddings e CROSS JOIN stats s)
      SELECT vec_id,
             CAST(CAST(round(list_aggregate(el, 'max'), 6) AS DECIMAL(10,6)) AS DOUBLE) AS max_abs_err,
             CAST(CAST(round(list_sum(el) / len(el), 6) AS DECIMAL(10,6)) AS DOUBLE) AS mean_abs_err
      FROM errs"""))),

    QueryDef("emb_label_cohesion", (s, d) => labelCohesion(emb(s, d)), Some(oq(s"""
      , cm AS (
          SELECT label, t.i AS pos, avg(CAST(embedding[t.i] AS DOUBLE)) AS m
          FROM embeddings CROSS JOIN generate_series(1, $Dim) t(i)
          GROUP BY label, t.i),
      cents AS (SELECT label, list(m ORDER BY pos) AS ce FROM cm GROUP BY label)
      SELECT e.vec_id, e.label,
             CAST(CAST(round(${sqlCos("e.embedding", "c.ce")}, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cos_centroid
      FROM embeddings e JOIN cents c ON e.label = c.label"""))),

    QueryDef("emb_ann_bucketed", (s, d) => annBucketed(emb(s, d)),
      Some(annBucketedOracle)),

    // build-then-serve ≡ in-memory bucket join: same oracle by construction
    QueryDef("emb_ann_index_roundtrip", annIndexRoundtrip,
      Some(annBucketedOracle)),

    QueryDef("emb_kcenter_sample",
      (s, d) => kcenterSample(emb(s, d)), Some(oq(kcenterOracle(8)))),

    // MMR diversity re-rank: 5 picks from each query's top-20 window; the
    // oracle unrolls the greedy rounds, so a pick-order or max-sim-update
    // bug hash-mismatches
    QueryDef("emb_mmr_rerank",
      (s, d) => mmrRerank(emb(s, d)), Some(oq(mmrOracle(5, 20)))),

    QueryDef("emb_dim_stats", (s, d) => embDimStats(emb(s, d)),
      Some(oq(dimStatsOracleSql))),

    // the promised 100 TB approx-percentile swap, runnable and gated (r12):
    // the query fn verifies the GK rank contract per dim/quartile against
    // the data (require → RED on violation), then emits the exact report
    // for the shared oracle
    QueryDef("emb_dim_stats_approx",
      (s, d) => embDimStatsApproxChecked(emb(s, d)),
      Some(oq(dimStatsOracleSql))),

    // drift between the deterministic even/odd halves of the corpus: on the
    // synthetic embeddings the halves are i.i.d., so the CORRECT report is
    // "no drift" — the flag's bite is spec-pinned on a planted-shift fixture
    QueryDef("emb_drift_report",
      (s, d) => embDriftReport(emb(s, d), col("vec_id") % 2 === 1), Some(oq(s"""
      , drv AS (
          SELECT vec_id % 2 = 1 AS cur, t.i AS dim,
                 CAST(embedding[t.i] AS DOUBLE) AS v
          FROM embeddings CROSS JOIN generate_series(1, $Dim) t(i)),
      drs AS (
          SELECT dim, cur, count(*) AS n,
                 round(quantile_cont(v, 0.5), 6) AS median,
                 round(quantile_cont(v, 0.75) - quantile_cont(v, 0.25), 6) AS iqr
          FROM drv GROUP BY 1, 2),
      drr AS (SELECT dim, n AS n_ref, median AS median_ref, iqr AS iqr_ref
              FROM drs WHERE NOT cur),
      drc AS (SELECT dim, n AS n_cur, median AS median_cur FROM drs WHERE cur)
      SELECT r.dim, r.n_ref, c.n_cur, r.median_ref, c.median_cur, r.iqr_ref,
             c.median_cur - r.median_ref AS shift,
             CASE WHEN r.iqr_ref > 0
                  THEN (c.median_cur - r.median_ref) / r.iqr_ref END AS norm_shift,
             coalesce(abs(CASE WHEN r.iqr_ref > 0
                  THEN (c.median_cur - r.median_ref) / r.iqr_ref END) > 0.5,
               FALSE) AS drifted
      FROM drr r JOIN drc c ON r.dim = c.dim"""))),

    // the pre-filter form: candidates carry the predicate, queries don't —
    // the oracle filters the candidate leg identically
    QueryDef("emb_ann_filtered",
      (s, d) => annBucketedFiltered(emb(s, d), col("label") % 2 === 0), Some(oq(s"""
      , $sqlBuckets,
      fwb AS (SELECT e.vec_id, e.embedding, e.label, b.bucket
              FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      fqs AS (SELECT vec_id AS query_id, embedding AS qe, bucket
              FROM fwb WHERE vec_id % 100 = 0),
      fscored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, ${sqlCos("q.qe", "e.embedding")} AS cos
        FROM fqs q JOIN fwb e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
        WHERE e.label % 2 = 0),
      franked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM fscored)
      SELECT query_id, neighbor_id, CAST(CAST(round(cos, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
      FROM franked WHERE rn <= 5"""))),

    // Hard negatives: the positive-band cut and the rank BOTH use the 6-dp
    // rounded cosine, mirrored exactly — a boundary vector (rounded value
    // == threshold) lands the same side in both engines.
    QueryDef("emb_hard_negatives", (s, d) => hardNegatives(emb(s, d)), Some(oq(s"""
      , $sqlBuckets,
      hwb AS (SELECT e.vec_id, e.embedding, b.bucket
              FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      hqs AS (SELECT vec_id AS query_id, embedding AS qe, bucket
              FROM hwb WHERE vec_id % 100 = 0),
      hscored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CAST(CAST(round(${sqlCos("q.qe", "e.embedding")}, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
        FROM hqs q JOIN hwb e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
      hranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        FROM hscored WHERE cosine < 0.35)
      SELECT query_id, neighbor_id, cosine, rn FROM hranked WHERE rn <= 3"""))),

    QueryDef("emb_ann_rr", (s, d) => annMrr(emb(s, d)), Some(oq(s"""
      , $sqlBuckets,
      rwb AS (SELECT e.vec_id, e.embedding, b.bucket
              FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      rqs AS (SELECT vec_id AS query_id, embedding AS qe, bucket
              FROM rwb WHERE vec_id % 100 = 0),
      rbrute AS (
        SELECT query_id, neighbor_id AS top1_id FROM (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${sqlCos("q.qe", "e.embedding")} DESC, e.vec_id) AS rn
          FROM rqs q, embeddings e WHERE e.vec_id <> q.query_id)
        WHERE rn = 1),
      rann AS (
        SELECT query_id, neighbor_id AS top1_id, CAST(rn AS BIGINT) AS ann_rank FROM (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${sqlCos("q.qe", "e.embedding")} DESC, e.vec_id) AS rn
          FROM rqs q JOIN rwb e ON e.bucket = q.bucket AND e.vec_id <> q.query_id)
        WHERE rn <= 5)
      SELECT b.query_id, b.top1_id, a.ann_rank,
             coalesce(CAST(1.0 AS DOUBLE) / a.ann_rank, CAST(0.0 AS DOUBLE)) AS rr
      FROM rbrute b LEFT JOIN rann a
        ON a.query_id = b.query_id AND a.top1_id = b.top1_id"""))),

    QueryDef("emb_ann_recall", (s, d) => annRecall(emb(s, d)), Some(oq(s"""
      , $sqlBuckets,
      wb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      qs AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM wb WHERE vec_id % 100 = 0),
      ascored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, ${sqlCos("q.qe", "e.embedding")} AS cos
        FROM qs q JOIN wb e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
      aranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM ascored),
      ann5 AS (SELECT query_id, neighbor_id FROM aranked WHERE rn <= 5),
      bscored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, ${sqlCos("q.qe", "e.embedding")} AS cos
        FROM qs q, embeddings e WHERE e.vec_id <> q.query_id),
      branked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM bscored),
      bexact AS (SELECT query_id, neighbor_id FROM branked WHERE rn <= 5)
      SELECT b.query_id,
             CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS recall_at_5
      FROM bexact b LEFT JOIN ann5 a
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      GROUP BY b.query_id"""))),

    // Multi-probe ANN: Hamming<=1 bucket expansion before the exact re-rank
    // (the recall fix tools/QuantRecallProbe @ 8323d6e motivated).
    QueryDef("emb_ann_multiprobe", (s, d) => annMultiProbe(emb(s, d)), Some(oq(s"""
      , $sqlBuckets,
      wb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
      qprobes AS (
        SELECT vec_id AS query_id, embedding AS qe,
               unnest([bucket] || [substr(bucket, 1, i-1) ||
                                   (CASE substr(bucket, i, 1) WHEN '1' THEN '0' ELSE '1' END) ||
                                   substr(bucket, i+1, $NumPlanes - i)
                                   FOR i IN generate_series(1, $NumPlanes)]) AS bucket
        FROM wb WHERE vec_id % 100 = 0),
      mscored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, ${sqlCos("q.qe", "e.embedding")} AS cos
        FROM qprobes q JOIN wb e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
      mranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM mscored)
      SELECT query_id, neighbor_id, CAST(CAST(round(cos, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
      FROM mranked WHERE rn <= 5"""))),

    // Quantized search (VERDICT r8 #6): the whole ANN pipeline — decode,
    // bucket, candidate join, exact re-rank — over int8-reconstructed
    // vectors; the oracle decodes with the identical code arithmetic.
    QueryDef("emb_ann_bucketed_quantized", (s, d) => annBucketedQuantized(emb(s, d)), Some(oq(s"""
      , dim_stats AS (
          SELECT t.i AS pos, min(CAST(embedding[t.i] AS DOUBLE)) AS mn,
                 max(CAST(embedding[t.i] AS DOUBLE)) AS mx
          FROM embeddings CROSS JOIN generate_series(1, $Dim) t(i)
          GROUP BY t.i),
      qstats AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM dim_stats),
      dec AS (
          SELECT e.vec_id,
                 [CASE WHEN s.mxs[i] = s.mns[i] THEN s.mns[i]
                       ELSE s.mns[i] + round((CAST(e.embedding[i] AS DOUBLE) - s.mns[i])
                                             / ((s.mxs[i] - s.mns[i]) / 255.0))
                                      * ((s.mxs[i] - s.mns[i]) / 255.0) END
                  FOR i IN generate_series(1, $Dim)] AS embedding
          FROM embeddings e CROSS JOIN qstats s),
      qbuckets AS (SELECT vec_id, ${(1 to NumPlanes).map(sqlBit).mkString(" || ")} AS bucket FROM dec),
      qwb AS (SELECT d.vec_id, d.embedding, b.bucket FROM dec d JOIN qbuckets b ON d.vec_id = b.vec_id),
      qqs AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM qwb WHERE vec_id % 100 = 0),
      qscored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, ${sqlCos("q.qe", "e.embedding")} AS cos
        FROM qqs q JOIN qwb e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
      qranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM qscored)
      SELECT query_id, neighbor_id, CAST(CAST(round(cos, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
      FROM qranked WHERE rn <= 5"""))))
}
