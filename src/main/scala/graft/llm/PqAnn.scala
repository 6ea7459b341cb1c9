package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryRegistry, Scratch}

/** Product-quantization ANN (beyond parity — the codebook compression every
  * billion-vector index uses; completes the engine's quantization ladder:
  * int8 linear codes → IVF coarse lists → PQ subspace codebooks).
  *
  * The 64-dim embedding splits into `M`=8 subspaces of 8 dims; each
  * subspace trains its own `K`=16-centroid codebook (so a vector compresses
  * 64×4 bytes → 8 bytes of codes, 32×). Search is ADC (asymmetric distance
  * computation): a query precomputes its exact distance TABLE to every
  * codebook entry (`M`×`K` doubles, one row per query), and each
  * candidate's approximate distance is then 8 table lookups + adds instead
  * of 64 multiplies.
  *
  * Deterministic by the same construction as [[IvfAnn]] (smallest-vec_id
  * seed subvectors, fixed Lloyd iteration count, strict-< argmin = lower
  * code on ties), and the ADC sum is a SEQUENTIAL per-row fold (Spark
  * `aggregate` HOF over the lookup sequence; DuckDB list-comprehension
  * `list_sum`) — left-to-right in both engines, so scores are bit-identical
  * and need no rounding to rank.
  *
  * Scale shape: training shuffles `M`×`K`×8 aggregate cells, never vectors;
  * encoding is a narrow per-row map (codes travel, floats don't); the
  * search here is the honest brute-ADC baseline — an explicit
  * queries×corpus scan like [[EmbeddingOps.cosineTop10]], each pair costing
  * 8 lookups — while the bounded-candidate scale path composes these codes
  * with the IVF lists ([[searchIvfAdc]]: probe → ADC-rank only the probed
  * lists' candidates). */
object PqAnn extends QueryRegistry {

  val M = 8 // subspaces
  val Sub = 8 // dims per subspace (64 / M)
  val K = 16 // codes per subspace

  import IvfAnn.Vec

  /** Exact squared distance of `v[off, off+Sub)` to codebook entry `c` —
    * the same sequential left-to-right fold the oracle's list_sum runs. */
  private def subSqDist(v: Array[Float], off: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < Sub) { val d = v(off + i) - c(i); s += d * d; i += 1 }
    s
  }

  private def nearestSub(v: Array[Float], off: Int, book: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var j = 0
    while (j < book.length) {
      val d = subSqDist(v, off, book(j))
      if (d < bestD) { bestD = d; best = j } // strict < : ties keep lower code
      j += 1
    }
    best
  }

  /** Train the `M` per-subspace codebooks: seeds are the K smallest
    * vec_ids' subvectors, then `iters` Lloyd rounds — ALL subspaces train
    * in one pass per round (one narrow assignment map + one M×K×Sub-cell
    * aggregation shuffle; vectors never shuffle). Empty cells keep their
    * previous coordinates, as [[IvfAnn.train]]. */
  def train(emb: DataFrame, iters: Int = 1): Array[Array[Array[Double]]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ds = emb.select("vec_id", "embedding").as[Vec].cache()
    try {
      var books: Array[Array[Array[Double]]] = {
        val seeds = ds.orderBy("vec_id").take(K)
        Array.tabulate(M)(s =>
          seeds.map(v => Array.tabulate(Sub)(i => v.embedding(s * Sub + i).toDouble)))
      }
      for (_ <- 1 to iters) {
        val bc = spark.sparkContext.broadcast(books)
        val means = ds.flatMap { v =>
          (0 until M).iterator.flatMap { s =>
            val cid = nearestSub(v.embedding, s * Sub, bc.value(s))
            (0 until Sub).map(i => (s, cid, i, v.embedding(s * Sub + i).toDouble))
          }
        }.toDF("s", "cid", "pos", "x")
          .groupBy("s", "cid", "pos").agg(avg("x").as("m"))
          .collect()
        val next = books.map(_.map(_.clone()))
        means.foreach(r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
        books = next
      }
      books
    } finally { ds.unpersist(); () }
  }

  /** PQ encoding, long form: (vec_id, subspace, code) — the 8-byte-per-
    * vector compressed representation. Narrow per-row map. */
  def codes(emb: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    emb.select("vec_id", "embedding").as[Vec]
      .flatMap(v => (0 until M).map(s => (v.vec_id, s, nearestSub(v.embedding, s * Sub, bc.value(s)))))
      .toDF("vec_id", "subspace", "code")
  }

  /** Per-vector code array, ordered by subspace (the joined form ADC folds
    * over). */
  private def codesArr(emb: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    emb.select("vec_id", "embedding").as[Vec]
      .map(v => (v.vec_id, (0 until M).map(s => nearestSub(v.embedding, s * Sub, bc.value(s))).toArray))
      .toDF("vec_id", "pq_codes")
  }

  /** Per-query ADC distance table, flattened `M`×`K` row-major (entry
    * `s*K + c` = exact sqdist of the query's subvector `s` to codebook
    * entry `c`) — one array row per query. */
  private def queryTables(emb: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    emb.filter(col("vec_id") % 100 === 0).select("vec_id", "embedding").as[Vec]
      .map { q =>
        val tab = new Array[Double](M * K)
        var s = 0
        while (s < M) {
          var c = 0
          while (c < K) { tab(s * K + c) = subSqDist(q.embedding, s * Sub, bc.value(s)(c)); c += 1 }
          s += 1
        }
        (q.vec_id, tab)
      }.toDF("query_id", "tab")
  }

  /** The sequential ADC fold: `Σ_s tab[s*K + codes[s]]` via the `aggregate`
    * HOF (left-to-right, codegen'd; `element_at` is 1-based like DuckDB's
    * list indexing, so both engines run the identical lookup sequence). */
  private def adcCol: org.apache.spark.sql.Column = expr(
    s"aggregate(sequence(0, ${M - 1}), CAST(0 AS DOUBLE), " +
      s"(acc, s) -> acc + element_at(tab, s * $K + element_at(pq_codes, s + 1) + 1))")

  /** Brute ADC search: every (query, candidate) pair scored from the
    * query's table — the PQ baseline (explicit queries×corpus scan, like
    * the exact [[EmbeddingOps.cosineTop10]] it approximates, but 8 lookups
    * per pair instead of 64 multiplies), top-k by (adc, neighbor_id). */
  def searchAdc(emb: DataFrame, books: Array[Array[Array[Double]]], topK: Int = 5): DataFrame = {
    val pairs = queryTables(emb, books)
      .crossJoin(codesArr(emb, books))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcCol.as("adc"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).cast("decimal(18,6)").cast("double").as("adc_dist"))
  }

  /** ADC-prefilter + exact re-rank — the production PQ serving shape: codes
    * cut the corpus to `preK` candidates per query (8 lookups each), exact
    * cosine runs ONLY on the survivors. On structureless (random) data pure
    * ADC rank fidelity is weak (the curse-of-dimensionality worst case —
    * measured recall@5 ≈ 0.2 here) but containment recovers fast with the
    * candidate budget (top-50 holds ~76% of the exact top-5 on this feed),
    * which is exactly the trade this two-stage shape exploits. */
  def searchAdcRerank(emb: DataFrame, books: Array[Array[Array[Double]]],
      preK: Int = 50, topK: Int = 5): DataFrame = {
    val candidates = queryTables(emb, books)
      .crossJoin(codesArr(emb, books))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcCol.as("adc"))
    val preWnd = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    val pre = candidates.withColumn("prn", row_number().over(preWnd))
      .filter(col("prn") <= preK)
      .select("query_id", "vec_id")
    val scored = pre
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")), Seq("query_id"))
      .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        EmbeddingOps.cosine(col("qe"), col("embedding")).as("cos"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).cast("decimal(10,6)").cast("double").as("cosine"))
  }

  /** IVF-PQ: the scale path — candidates come only from the query's
    * `nProbe` nearest IVF lists (bounded, never the whole corpus), ranked
    * by the same ADC fold. At 100 TB this is the index layout that serves:
    * coarse lists bound the scan, codes replace floats in the lists. */
  def searchIvfAdc(emb: DataFrame, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nProbe: Int = 2, topK: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(cents)
    val assigned = IvfAnn.assignments(emb, cents)
    val probes = emb.filter(col("vec_id") % 100 === 0).select("vec_id", "embedding").as[Vec]
      .flatMap { v =>
        val byDist = bcC.value.indices.sortBy(j => (IvfAnn.sqDist(v.embedding, bcC.value(j)), j))
        byDist.take(nProbe).map(cid => (v.vec_id, cid))
      }.toDF("query_id", "centroid_id")
    val candidates = probes.join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val pairs = candidates
      .join(queryTables(emb, books), Seq("query_id"))
      .join(codesArr(emb, books), Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcCol.as("adc"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).cast("decimal(18,6)").cast("double").as("adc_dist"))
  }

  /** Persisted IVF-PQ index (r12, VERDICT r11 #8) — the actual 100 TB
    * vector-store layout: PQ code arrays joined to their IVF list
    * assignments and written PARTITIONED BY list id, so a list IS a
    * directory of 8-byte codes. Floats never enter the index; the corpus
    * compresses 32× on disk and a probe's I/O is bounded by its lists. */
  def writeIvfPqIndex(emb: DataFrame, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], path: String): Unit =
    codesArr(emb, books)
      .join(IvfAnn.assignments(emb, cents), Seq("vec_id"))
      .write.partitionBy("centroid_id").parquet(path)

  /** Serve a query batch from the persisted index: identical semantics to
    * [[searchIvfAdc]], but candidates come from the INDEX TABLE on disk.
    * The probe set (query → nProbe nearest lists) joins the index on the
    * PARTITION column, so dynamic partition pruning derives the touched
    * list set from the broadcast probes and the scan opens only those
    * nProbe directories per query batch — at 100 TB the difference between
    * reading a few lists and reading the store (plan-asserted by the gate
    * row and the spec). ADC then runs the same 8-lookup fold over only the
    * probed candidates. */
  def searchIvfPqIndex(spark: SparkSession, indexPath: String, emb: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nProbe: Int = 2, topK: Int = 5): DataFrame = {
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(cents)
    val index = spark.read.parquet(indexPath)
    val probes = emb.filter(col("vec_id") % 100 === 0).select("vec_id", "embedding").as[Vec]
      .flatMap { v =>
        val byDist = bcC.value.indices.sortBy(j => (IvfAnn.sqDist(v.embedding, bcC.value(j)), j))
        byDist.take(nProbe).map(cid => (v.vec_id, cid))
      }.toDF("query_id", "centroid_id")
    val pairs = probes.join(index, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(queryTables(emb, books), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adcCol.as("adc"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).cast("decimal(18,6)").cast("double").as("adc_dist"))
  }

  /** Build-then-serve roundtrip gate: the persisted index must answer
    * exactly like the in-memory [[searchIvfAdc]] (shared oracle), and the
    * serve plan must carry the dynamic-pruning subquery — if the layout or
    * the pruning ever regresses, the row turns RED, not slow. */
  private def ivfPqIndexRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("graft_ivfpq_idx_") + "/index"
    val e = EmbeddingOps.emb(s, d)
    val cents = IvfAnn.train(e)
    val books = train(e)
    writeIvfPqIndex(e, cents, books, path)
    val out = searchIvfPqIndex(s, path, e, cents, books)
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("dynamicpruning"),
      "IVF-PQ index serve must prune list directories dynamically: " + plan.take(2000))
    out
  }

  // ── Oracle SQL ──────────────────────────────────────────────────────────
  // The per-subspace Lloyd unrolled as chained CTEs, the IvfAnnQueries
  // pattern extended with the subspace key: seeds → assign → mean → final
  // codes, every subspace trained in the same CTEs via the `s` column.

  private def subDiffSq(embAlias: String, bookAlias: String) =
    s"(CAST($embAlias.embedding[$bookAlias.s * $Sub + i] AS DOUBLE) - CAST($bookAlias.ce[i] AS DOUBLE)) * " +
      s"(CAST($embAlias.embedding[$bookAlias.s * $Sub + i] AS DOUBLE) - CAST($bookAlias.ce[i] AS DOUBLE))"

  /** Codebook CTEs ending in `c1` = (s, cid, ce) after one Lloyd round, and
    * `codes` = (vec_id, s, cid) — the final assignment against `c1`. */
  private val codebookCtes = s"""
      WITH pq_seed_vecs AS (
        SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $K),
      pq_seeds AS (
        SELECT t.s, row_number() OVER (PARTITION BY t.s ORDER BY v.vec_id) - 1 AS cid,
               [CAST(v.embedding[t.s * $Sub + i] AS DOUBLE) FOR i IN generate_series(1, $Sub)] AS ce
        FROM pq_seed_vecs v CROSS JOIN generate_series(0, ${M - 1}) t(s)),
      pq_a1_d AS (
        SELECT e.vec_id, c.s, c.cid,
               row_number() OVER (PARTITION BY e.vec_id, c.s
                                  ORDER BY list_sum([${subDiffSq("e", "c")} FOR i IN generate_series(1, $Sub)]), c.cid) AS rn
        FROM embeddings e CROSS JOIN pq_seeds c),
      pq_a1 AS (SELECT vec_id, s, cid FROM pq_a1_d WHERE rn = 1),
      pq_c1_m AS (
        SELECT a.s, a.cid, t.i AS pos,
               avg(CAST(e.embedding[a.s * $Sub + t.i] AS DOUBLE)) AS m
        FROM pq_a1 a
        JOIN embeddings e ON a.vec_id = e.vec_id
        CROSS JOIN generate_series(1, $Sub) t(i)
        GROUP BY a.s, a.cid, t.i),
      pq_c1 AS (
        SELECT p.s, p.cid, coalesce(mm.ce, p.ce) AS ce
        FROM pq_seeds p
        LEFT JOIN (SELECT s, cid, list(m ORDER BY pos) AS ce
                   FROM pq_c1_m GROUP BY s, cid) mm
               ON p.s = mm.s AND p.cid = mm.cid),
      pq_codes_d AS (
        SELECT e.vec_id, c.s, c.cid,
               row_number() OVER (PARTITION BY e.vec_id, c.s
                                  ORDER BY list_sum([${subDiffSq("e", "c")} FOR i IN generate_series(1, $Sub)]), c.cid) AS rn
        FROM embeddings e CROSS JOIN pq_c1 c),
      pq_codes AS (SELECT vec_id, s, cid FROM pq_codes_d WHERE rn = 1)"""

  private val codesOracle = s"""
      $codebookCtes
      SELECT vec_id, s AS subspace, cid AS code FROM pq_codes"""

  /** ADC search oracle: per-query flattened distance table (row-major
    * `s*K + cid`, 1-based list), per-vector code list ordered by subspace,
    * and the SAME sequential 8-lookup fold via a list comprehension. */
  private val adcOracle = s"""
      $codebookCtes,
      pq_qt AS (
        SELECT q.vec_id AS query_id, c.s, c.cid,
               list_sum([${subDiffSq("q", "c")} FOR i IN generate_series(1, $Sub)]) AS d
        FROM embeddings q CROSS JOIN pq_c1 c
        WHERE q.vec_id % 100 = 0),
      pq_qtab AS (
        SELECT query_id, list(d ORDER BY s, cid) AS tab FROM pq_qt GROUP BY query_id),
      pq_carr AS (
        SELECT vec_id, list(cid ORDER BY s) AS cds FROM pq_codes GROUP BY vec_id),
      pq_adc AS (
        SELECT t.query_id, v.vec_id AS neighbor_id,
               list_sum([t.tab[s * $K + v.cds[s + 1] + 1]
                         FOR s IN generate_series(0, ${M - 1})]) AS adc
        FROM pq_qtab t CROSS JOIN pq_carr v
        WHERE v.vec_id <> t.query_id),
      pq_ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
        FROM pq_adc)
      SELECT query_id, neighbor_id,
             CAST(CAST(round(adc, 6) AS DECIMAL(18,6)) AS DOUBLE) AS adc_dist
      FROM pq_ranked WHERE rn <= 5"""

  /** The two-stage oracle: ADC top-50 prefilter, exact-cosine re-rank. */
  private val adcRerankOracle = s"""
      $codebookCtes,
      pq_qt AS (
        SELECT q.vec_id AS query_id, c.s, c.cid,
               list_sum([${subDiffSq("q", "c")} FOR i IN generate_series(1, $Sub)]) AS d
        FROM embeddings q CROSS JOIN pq_c1 c
        WHERE q.vec_id % 100 = 0),
      pq_qtab AS (
        SELECT query_id, list(d ORDER BY s, cid) AS tab FROM pq_qt GROUP BY query_id),
      pq_carr AS (
        SELECT vec_id, list(cid ORDER BY s) AS cds FROM pq_codes GROUP BY vec_id),
      pq_adc AS (
        SELECT t.query_id, v.vec_id,
               list_sum([t.tab[s * $K + v.cds[s + 1] + 1]
                         FOR s IN generate_series(0, ${M - 1})]) AS adc
        FROM pq_qtab t CROSS JOIN pq_carr v
        WHERE v.vec_id <> t.query_id),
      pq_pre AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS prn
        FROM pq_adc),
      pq_scored AS (
        SELECT p.query_id, p.vec_id AS neighbor_id,
               ${EmbeddingOps.sqlCos("q.embedding", "e.embedding")} AS cos
        FROM pq_pre p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings e ON e.vec_id = p.vec_id
        WHERE p.prn <= 50),
      pq_rr AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        FROM pq_scored)
      SELECT query_id, neighbor_id,
             CAST(CAST(round(cos, 6) AS DECIMAL(10,6)) AS DOUBLE) AS cosine
      FROM pq_rr WHERE rn <= 5"""

  /** IVF-PQ oracle — the scale path gate-checked, not just spec-checked:
    * the IVF Lloyd CTEs ([[IvfAnnQueries.lloyd2Ctes]]: trained centroids
    * `c2`, inverted lists `a3`) composed with the PQ codebook CTEs, probes
    * restricted to each query's 2 nearest lists, ADC via the same
    * sequential lookup fold over ONLY those candidates. */
  private val ivfPqOracle = s"""
      ${IvfAnnQueries.lloyd2Ctes},
      ${codebookCtes.replaceFirst("""\s*WITH""", "")},
      ipq_probes_d AS (
        SELECT e.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_sum([${IvfAnnQueries.sqlDiffSq} FOR i IN generate_series(1, 64)]), c.cid) AS rn
        FROM embeddings e CROSS JOIN c2 c
        WHERE e.vec_id % 100 = 0),
      ipq_probes AS (SELECT query_id, cid FROM ipq_probes_d WHERE rn <= 2),
      ipq_cands AS (
        SELECT p.query_id, a.vec_id
        FROM ipq_probes p JOIN a3 a ON p.cid = a.cid
        WHERE a.vec_id <> p.query_id),
      ipq_qt AS (
        SELECT q.vec_id AS query_id, c.s, c.cid,
               list_sum([${subDiffSq("q", "c")} FOR i IN generate_series(1, $Sub)]) AS d
        FROM embeddings q CROSS JOIN pq_c1 c
        WHERE q.vec_id % 100 = 0),
      ipq_qtab AS (
        SELECT query_id, list(d ORDER BY s, cid) AS tab FROM ipq_qt GROUP BY query_id),
      ipq_carr AS (
        SELECT vec_id, list(cid ORDER BY s) AS cds FROM pq_codes GROUP BY vec_id),
      ipq_adc AS (
        SELECT cd.query_id, cd.vec_id AS neighbor_id,
               list_sum([t.tab[s * $K + v.cds[s + 1] + 1]
                         FOR s IN generate_series(0, ${M - 1})]) AS adc
        FROM ipq_cands cd
        JOIN ipq_qtab t ON t.query_id = cd.query_id
        JOIN ipq_carr v ON v.vec_id = cd.vec_id),
      ipq_ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
        FROM ipq_adc)
      SELECT query_id, neighbor_id,
             CAST(CAST(round(adc, 6) AS DECIMAL(18,6)) AS DOUBLE) AS adc_dist
      FROM ipq_ranked WHERE rn <= 5"""

  def defs: Seq[QueryDef] = Seq(
    QueryDef("emb_pq_codes", (s, d) => {
      val e = EmbeddingOps.emb(s, d)
      codes(e, train(e))
    }, Some(codesOracle)),
    QueryDef("emb_pq_adc_search", (s, d) => {
      val e = EmbeddingOps.emb(s, d)
      searchAdc(e, train(e))
    }, Some(adcOracle)),
    QueryDef("emb_pq_adc_rerank", (s, d) => {
      val e = EmbeddingOps.emb(s, d)
      searchAdcRerank(e, train(e))
    }, Some(adcRerankOracle)),
    QueryDef("emb_ivfpq_search", (s, d) => {
      val e = EmbeddingOps.emb(s, d)
      searchIvfAdc(e, IvfAnn.train(e), train(e))
    }, Some(ivfPqOracle)),
    QueryDef("emb_ivfpq_index_roundtrip", ivfPqIndexRoundtrip, Some(ivfPqOracle)))
}
