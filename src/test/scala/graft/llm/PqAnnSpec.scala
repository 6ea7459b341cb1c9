package graft.llm

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Determinism, fidelity, and composition of the PQ codec. */
class PqAnnSpec extends SparkSpec {

  private lazy val emb = EmbeddingOps.emb(spark, sfDir)
  private lazy val books = PqAnn.train(emb)

  test("training and encoding are deterministic run-to-run") {
    val again = PqAnn.train(emb)
    assert(books.flatten.flatten.toSeq === again.flatten.flatten.toSeq)
    val c1 = PqAnn.codes(emb, books).collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val c2 = PqAnn.codes(emb, again).collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(c1 === c2)
  }

  test("codebook shape: M subspaces x K codes x Sub dims, codes land in range") {
    assert(books.length === PqAnn.M)
    assert(books.forall(_.length === PqAnn.K))
    assert(books.forall(_.forall(_.length === PqAnn.Sub)))
    val cs = PqAnn.codes(emb, books)
    assert(cs.filter(col("code") < 0 || col("code") >= PqAnn.K).count() === 0)
    assert(cs.count() === emb.count() * PqAnn.M)
  }

  test("a seed vector reconstructs near-exactly: its ADC self-distance is ~0") {
    // seed subvectors were codebook entries at init; after one Lloyd round a
    // centroid moves to its cell mean, so use iters=0 books for exactness
    val seedBooks = PqAnn.train(emb, iters = 0)
    import spark.implicits._
    val seed = emb.orderBy("vec_id").select("vec_id", "embedding")
      .as[IvfAnn.Vec].head()
    val dist = (0 until PqAnn.M).map { s =>
      val book = seedBooks(s)
      val cid = (0 until PqAnn.K).minBy(c =>
        (0 until PqAnn.Sub).map { i =>
          val d = seed.embedding(s * PqAnn.Sub + i) - book(c)(i); d * d
        }.sum)
      (0 until PqAnn.Sub).map { i =>
        val d = seed.embedding(s * PqAnn.Sub + i) - book(cid)(i); d * d
      }.sum
    }.sum
    assert(dist === 0.0) // its own subvectors are codebook entries
  }

  test("ADC ranking recovers the exact euclidean top-5 within its candidate budget") {
    import spark.implicits._
    val vecs = emb.select("vec_id", "embedding").as[IvfAnn.Vec].collect()
    def exactTop5(q: IvfAnn.Vec) = vecs
      .filter(_.vec_id != q.vec_id)
      .sortBy { v =>
        var s = 0.0; var i = 0
        while (i < q.embedding.length) {
          val d = q.embedding(i).toDouble - v.embedding(i); s += d * d; i += 1
        }
        (s, v.vec_id)
      }.take(5).map(_.vec_id).toSet
    val queries = vecs.filter(_.vec_id % 100 == 0)
    def recallAt(r: Int): Double = {
      val adc = PqAnn.searchAdc(emb, books, topK = r).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      queries.map(q => (adc(q.vec_id) & exactTop5(q)).size).sum.toDouble / (queries.length * 5)
    }
    // structureless random embeddings are PQ's curse-of-dimensionality
    // worst case: pure ADC@5 is weak, but containment recovers fast with
    // the candidate budget — the property the rerank path serves from
    // (measured on this feed: @5 ≈ 0.2, @50 ≈ 0.76)
    assert(recallAt(5) >= 0.1, s"ADC recall@5 = ${recallAt(5)}")
    assert(recallAt(50) >= 0.6, s"ADC containment@50 = ${recallAt(50)}")
  }

  test("rerank output is the exact cosine ranking of the ADC-top-50 survivors") {
    import spark.implicits._
    val out = PqAnn.searchAdcRerank(emb, books).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    // per query: 5 rows, cosine non-increasing
    out.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length === 5)
      val cs = rs.sortBy(r => (-r._3, r._2)).map(_._3)
      assert(cs.sorted.reverse.toSeq === cs.toSeq)
    }
  }

  test("IVF-PQ returns the ADC ranking restricted to the probed lists") {
    val cents = IvfAnn.train(emb)
    val ivfpq = PqAnn.searchIvfAdc(emb, cents, books)
    // every query present; per query exactly top-5 (or fewer if lists small)
    val counts = ivfpq.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ <= 5))
    // scores agree with brute ADC for the pairs both produce
    val brute = PqAnn.searchAdc(emb, books, topK = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivfpq.collect().foreach { r =>
      assert(brute((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
  }

  test("persisted IVF-PQ index serves identically to in-memory IVF-ADC, with partition pruning") {
    val cents = IvfAnn.train(emb)
    val path = Scratch.dir("graft_ivfpq_spec_") + "/index"
    PqAnn.writeIvfPqIndex(emb, cents, books, path)
    // the layout is one directory per IVF list, holding codes (no floats)
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(dirs.nonEmpty)
    assert(!spark.read.parquet(path).columns.contains("embedding"))
    val served = PqAnn.searchIvfPqIndex(spark, path, emb, cents, books)
    val inMem = PqAnn.searchIvfAdc(emb, cents, books)
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ===
      inMem.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    // the serve scan prunes list directories dynamically from the probes
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(4000))
  }
}
