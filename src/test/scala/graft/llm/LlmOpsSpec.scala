package graft.llm

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Behavioral tests for the training-data pipeline operators. */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min doc_id") {
    val out = TextOps.exactDedup(docsDF(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y z")))
      .select("keep_doc_id", "n_docs").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (3L, 1L)))
  }

  test("sharedSpans merges consecutive matched segments across an offset diagonal") {
    // segments are 3-word windows. doc 1: segs 0..3; doc 2 carries doc 1's
    // segs 1..2 ("d e f", "g h i") shifted to its OWN positions 2..3 — one
    // contiguous 2-segment span on diagonal -1 — plus an isolated 1-segment
    // match ("m n o" at 1:3 vs 2:0) that must be dropped as noise.
    val out = TextOps.sharedSpans(docsDF(
      (1L, "a b c d e f g h i m n o"),
      (2L, "m n o q r s d e f g h i")),
      minSegments = 2L)
      .select("doc_a", "doc_b", "start_a", "end_a", "start_b", "end_b", "n_segments")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 1L, 2L, 2L, 3L, 2L)))
    // with the noise floor off, the isolated match surfaces too
    val all = TextOps.sharedSpans(docsDF(
      (1L, "a b c d e f g h i m n o"),
      (2L, "m n o q r s d e f g h i")),
      minSegments = 1L)
      .select("start_a", "start_b", "n_segments")
      .as[(Long, Long, Long)].collect().toSet
    assert(all === Set((1L, 2L, 2L), (3L, 0L, 1L)))
  }

  test("bpeMerges reproduces the classic merge sequence on the Sennrich corpus") {
    // {low:5, lower:2, newest:6, widest:3} — (e,s) wins rank 1 on the
    // lexicographic tie with (s,t) at count 9, then (es,t), then (l,o)
    val ws = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val out = TextOps.bpeMerges(docsDF((1L, ws.mkString(" "))), nMerges = 3)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(out === Seq((1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L)))
  }

  test("winnowing guarantee: a shared substring of w+k-1 tokens shares a fingerprint") {
    // k=4, w=5 → any shared run of >= 8 tokens must collide on >= 1
    // selected fingerprint, wherever it sits in either doc
    val shared = "q r s t u v w x" // 8 tokens
    val fp = TextOps.winnowFingerprints(docsDF(
      (1L, s"a b c d e $shared f g h i j"),
      (2L, s"k l m n $shared o p")))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val f1 = fp.collect { case (1L, f) => f }.toSet
    val f2 = fp.collect { case (2L, f) => f }.toSet
    assert((f1 & f2).nonEmpty)
    // density: far fewer fingerprints than k-grams survive selection
    assert(f1.size < 18 - 4 + 1)
    // short doc (fewer than w k-grams) winnows to exactly one fingerprint
    val short = TextOps.winnowFingerprints(docsDF((3L, "a b c d e")))
      .collect()
    assert(short.length === 1)
  }

  test("minhash finds identical documents with jaccard 1.0 and skips unrelated ones") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val out = TextOps.minhashPairs(docsDF(
      (1L, text), (2L, text),
      (3L, "completely different words that share no shingles at all with others one two")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("native FloatVecDot is bit-identical to the HOF aggregate/zip_with fold") {
    val df = Seq(
      (Array(0.1f, -2.5f, 3.75f), Array(1.5f, 0.25f, -0.125f)),
      (Array.tabulate(64)(i => (math.sin(i) * 7).toFloat),
        Array.tabulate(64)(i => (math.cos(i) / 3).toFloat)))
      .toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
    val rows = df.select(
      EmbeddingOps.dotd(col("a"), col("b")).as("native"), hof.as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("dedup clusters: transitive near-dups share one cluster labeled by the min doc_id") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val text2 = "the quick brown fox jumps over the lazy dog again and again more"
    // 1~2 (identical), 2~3 (one extra word) -> {1,2,3} is one component via
    // transitivity even if 1~3 alone were below threshold; 4 is unrelated.
    val out = TextOps.dedupClusters(docsDF(
      (1L, text), (2L, text), (3L, text2),
      (4L, "completely different words that share no shingles at all with others one two")),
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out.values.toSet === Set(1L))
  }

  test("dedup clusters: distributed label-propagation path matches the union-find path") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val text2 = "the quick brown fox jumps over the lazy dog again and again more"
    val docs = docsDF(
      (1L, text), (2L, text), (3L, text2),
      (4L, "completely different words that share no shingles at all with others one two"))
    // broadcastEdgeLimit = 0 forces the distributed min-label loop
    val distributed = TextOps.dedupClusters(docs, threshold = 0.5, broadcastEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val unionFind = TextOps.dedupClusters(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(distributed === unionFind)
    assert(distributed === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connected components: a 100-edge chain (diameter >> old 32-round cap) converges") {
    // Chain 0-1-2-...-100 has diameter 100: plain min-label propagation needs
    // 100 rounds, which the pre-r8 loop silently truncated at 32 (VERDICT r7
    // #2). The pointer-jumping loop must label every node 0 in O(log 100)
    // rounds. A disjoint 2-cycle checks labels don't bleed across components.
    val chain = (0L until 100L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((500L, 501L), (501L, 500L))).toDF("src", "dst")
    val out = TextOps.connectedComponents(edges, broadcastEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size === 103)
    (0L to 100L).foreach(i => assert(out(i) === 0L, s"node $i"))
    assert(out(500L) === 500L && out(501L) === 500L)
  }

  test("pii redaction: emails and ips replace with typed tokens, clean text untouched") {
    val out = TextOps.redactPii(docsDF(
      (1L, "contact bob.smith+x@example.co.uk or 10.0.0.1 today"),
      (2L, "two mails a@b.io c@d.org and 192.168.1.255 8.8.8.8"),
      (3L, "nothing sensitive here at all")))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("contact <EMAIL> or <IP> today", 1L, 1L)))
    assert(out(2L) === (("two mails <EMAIL> <EMAIL> and <IP> <IP>", 2L, 2L)))
    assert(out(3L) === (("nothing sensitive here at all", 0L, 0L)))
  }

  test("stratified sampling: rate 1 keeps all, rate 0 keeps none, deterministic") {
    val docs = (1L to 200L).map(i => (i, "w", if (i <= 100) "all" else "none"))
      .toDF("doc_id", "text", "source")
    val kept = TextOps.sampleStratified(docs, Map("all" -> 1.0, "none" -> 0.0))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === (1L to 100L).toSet)
    // a fractional rate keeps a stable subset: same call, same rows
    val half1 = TextOps.sampleStratified(docs, Map("all" -> 0.5, "none" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    val half2 = TextOps.sampleStratified(docs, Map("all" -> 0.5, "none" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(half1 === half2 && half1.nonEmpty && half1.size < 200)
  }

  test("decontaminate: overlap ratio against the benchmark set drives the verdict") {
    // doc 100 is the benchmark (id % 100 == 0); doc 1 repeats its text
    // exactly (ratio 1.0 -> drop), doc 2 shares nothing (ratio 0 -> keep)
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val out = TextOps.decontaminate(docsDF(
      (100L, bench), (1L, bench),
      (2L, "totally unrelated words nothing shared here at all")), maxOverlap = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1.0, false)))
    assert(out(2L) === ((0.0, true)))
    assert(!out.contains(100L))
  }

  test("lm familiarity: average corpus attestation of a doc's bigram occurrences") {
    // corpus bigram counts: "a b" -> 3 (twice in doc 1, once in doc 2),
    // "b a" -> 1, "b c" -> 1; doc 1 mass = 3+1+3 = 7 over 3 bigrams,
    // doc 2 mass = 3+1 = 4 over 2; doc 3 (single token) has no bigrams
    val out = TextOps.lmFamiliarity(docsDF(
      (1L, "a b a b"), (2L, "a b c"), (3L, "x")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map(1L -> ((3L, 7.0 / 3)), 2L -> ((2L, 2.0))))
  }

  test("per-source sample: exactly k docs per source, rank-stable across runs") {
    val docs = (1L to 60L).map(i => (i, "w", s"s${i % 3}")).toDF("doc_id", "text", "source")
    val out1 = TextOps.samplePerSource(docs, k = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out1.length === 12)
    assert(out1.groupBy(_._2).forall { case (_, rows) =>
      rows.length == 4 && rows.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L)
    })
    val out2 = TextOps.samplePerSource(docs, k = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out1.toSet === out2.toSet)
  }

  test("mix plan: the bottleneck source caps the total, rates follow shares") {
    // src a: 100 tokens at share 0.8 -> N = min(125, 500) = 125; a plans all
    // 100 of its tokens (rate 1.0), b plans floor(0.2*125)=25 of 100 (0.25)
    val docs = Seq(
      (1L, (1 to 100).map(_ => "t").mkString(" "), "a"),
      (2L, (1 to 100).map(_ => "t").mkString(" "), "b"),
      (3L, "ignored entirely", "c"))
      .toDF("doc_id", "text", "source")
    val plan = TextOps.mixPlan(docs, Map("a" -> 0.8, "b" -> 0.2))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(4)))).toMap
    assert(plan.keySet === Set("a", "b"))
    assert(plan("a") === ((100L, 100L, 1.0)))
    assert(plan("b") === ((100L, 25L, 0.25)))
  }

  test("connected components: an exhausted round cap fails loudly, never truncates") {
    // pre-r8 behavior was to silently emit whatever labels round 32 held;
    // with the cap forced to 1 round a 20-node chain cannot converge and the
    // solver must refuse to return partial labels
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      TextOps.connectedComponents(chain, broadcastEdgeLimit = 0L, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("refusing to emit"))
  }

  test("dedup keep: cluster representative and untouched docs survive, dups drop") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val text2 = "the quick brown fox jumps over the lazy dog again and again more"
    val kept = TextOps.dedupKeep(docsDF(
      (1L, text), (2L, text), (3L, text2),
      (4L, "completely different words that share no shingles at all with others one two")),
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(kept === Map(1L -> "cluster_representative", 4L -> "unique"))
  }

  test("dedup keep-best: the longest cluster member wins, not the min doc_id") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val longer = text + " with extra informative trailing content"
    val kept = TextOps.dedupKeepBest(docsDF(
      (1L, text), (2L, longer),
      (4L, "completely different words that share no shingles at all with others one two")),
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // dedupKeep would keep doc 1 (min id); keep-best keeps the longer doc 2
    assert(kept === Map(2L -> "cluster_best", 4L -> "unique"))
  }

  test("kcenterSample picks the geometrically farthest points in order") {
    def v(x: Float, y: Float) = Array.tabulate(64)(i =>
      if (i == 0) x else if (i == 1) y else 0f)
    val emb = Seq(
      (1L, v(1f, 0f)),      // seed (smallest id)
      (2L, v(0.95f, 0.05f)), // near the seed
      (3L, v(-1f, 0f)),     // antipode: distance 2.0 — picked second
      (4L, v(0f, 1f)))      // orthogonal to both: distance 1.0 — third
      .toDF("vec_id", "embedding")
    val out = EmbeddingOps.kcenterSample(emb, k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.map(p => p._1 -> p._2).toSeq === Seq(1 -> 1L, 2 -> 3L, 3 -> 4L, 4 -> 2L))
    assert(out(1)._3.contains(2.0)) // antipodal cosine distance
    assert(out(2)._3.contains(1.0)) // orthogonal
    assert(out(3)._3.exists(_ < 0.01)) // the near-seed point comes last
  }

  test("mixApply admits in hash order until the budget, overshoot bounded by one doc") {
    val docs = TextOps.docs(spark, sfDir)
    val shares = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val plan = TextOps.mixPlan(docs, shares).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val kept = TextOps.mixApply(docs, shares)
    val perSource = kept.groupBy("source")
      .agg(sum("n_tokens").as("kept"), max("n_tokens").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    plan.foreach { case (src, budget) =>
      val (keptTok, mx) = perSource(src)
      assert(keptTok >= budget, s"$src under budget: $keptTok < $budget")
      assert(keptTok < budget + mx, s"$src overshoot beyond one doc")
    }
    // reshuffle-stable: same kept set from a different partitioning
    val again = TextOps.mixApply(docs.repartition(7), shares)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === kept.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("length-bucketed batching cuts padding waste vs arrival-order batching") {
    import org.apache.spark.sql.expressions.Window
    val docs = TextOps.docs(spark, sfDir)
    val sorted = TextOps.lengthBatches(docs)
    // batch invariants: waste is exactly n*max - sum, batches hold <= 32
    assert(sorted.filter(
      col("pad_waste_tokens") =!= col("n_docs") * col("max_tokens") - col("sum_tokens") ||
        col("n_docs") > 32).count() === 0)
    val waste = sorted.agg(sum("pad_waste_tokens")).head().getLong(0)
    // the length-sorted cut beats a doc_id-ordered cut on the real corpus
    val byArrival = docs
      .select(col("doc_id"), expr("size(split(text, ' '))").cast("long").as("n_tokens"))
      .withColumn("rn", row_number().over(Window.orderBy("doc_id")))
      .withColumn("batch_id", expr("(rn - 1) div 32"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n"), max("n_tokens").as("mx"), sum("n_tokens").as("sm"))
      .agg(sum(col("n") * col("mx") - col("sm"))).head().getLong(0)
    assert(waste < byArrival, s"sorted $waste vs arrival $byArrival")
  }

  test("novelty scores corpus-unique shingles against shared ones") {
    val docs = docsDF(
      (1L, "a b c d"),  // shingles {a b c, b c d}: first shared with doc 2
      (2L, "a b c x"),  // {a b c, b c x}
      (3L, "p q r s"))  // {p q r, q r s}: fully unique
    val out = TextOps.novelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((2L, 2L, 1.0)))
  }

  test("qualityGopher attributes the first failing rule in priority order") {
    val fifty = (1 to 48).map(i => s"word$i").mkString(" ")
    val docs = docsDF(
      (1L, s"the of $fifty"),                              // clean: keeps
      (2L, "the of too short"),                            // < 50 words
      (3L, s"the of $fifty " + Seq.fill(80)("a").mkString(" ")), // mean word len < 3
      (4L, s"the of $fifty ### ### ### ### ### ###"),      // symbol ratio > 0.1
      (5L, s"- the of $fifty\n- bullets\n- everywhere"),   // >90% bullet lines
      (6L, s"the of $fifty...\nmore..."),                  // >30% ellipsis lines
      (7L, s"the of $fifty 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15"), // alpha < 0.8
      (8L, s"the $fifty extra1 extra2"))                   // only 1 stopword
    val out = TextOps.qualityGopher(docs).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(8)), r.getBoolean(9))).toMap
    assert(out(1L) === (None, true))
    assert(out(2L) === (Some("word_count"), false))
    assert(out(3L) === (Some("mean_word_length"), false))
    assert(out(4L) === (Some("symbol_ratio"), false))
    assert(out(5L) === (Some("bullet_lines"), false))
    assert(out(6L) === (Some("ellipsis_lines"), false))
    assert(out(7L) === (Some("alpha_words"), false))
    assert(out(8L) === (Some("stopwords"), false))
  }

  test("mmrRerank trades relevance for diversity against the picked set") {
    def v(x: Float, y: Float) = Array.tabulate(64)(i =>
      if (i == 0) x else if (i == 1) y else 0f)
    // query 100 along x; a (id 1) most relevant, b (id 2) nearly identical
    // to a, c (id 3) less relevant but diverse. Pure relevance ranks a,b,c;
    // MMR must demote the near-duplicate b below c.
    val emb = Seq(
      (100L, v(1f, 0f)),
      (1L, v(0.95f, 0.312f)),
      (2L, v(0.94f, 0.341f)),
      (3L, v(0.8f, -0.6f)))
      .toDF("vec_id", "embedding")
    val out = EmbeddingOps.mmrRerank(emb)
      .orderBy("mmr_rank")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq === Seq(1 -> 1L, 2 -> 3L, 3 -> 2L))
    // relevance alone would order 1, 2, 3 — checked so the fixture can't
    // silently degenerate into agreeing with the unreranked order
    val rel = EmbeddingOps.cosineTop10(emb)
      .orderBy(desc("cosine")).collect().map(_.getLong(1))
    assert(rel.toSeq === Seq(1L, 2L, 3L))
    // candidate exhaustion: only 3 candidates exist, so ranks stop at 3
    assert(out.length === 3)
  }

  test("embedding dedup clusters: identical vectors cluster under the min vec_id") {
    val same = Array.tabulate(64)(i => if (i == 0) 1f else 0.01f)
    val far = Array.tabulate(64)(i => if (i == 1) -1f else -0.01f)
    val emb = Seq((1L, same), (2L, same), (3L, same), (9L, far))
      .toDF("vec_id", "embedding")
    val out = EmbeddingOps.embDedupClusters(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.view.filterKeys(Set(1L, 2L, 3L)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(out.get(9L).forall(_ != 1L))
  }

  test("native max-token-freq kernel equals the HOF fold on real and edge docs") {
    val ge = org.apache.spark.sql.graft.expressions
    val docs = TextOps.docs(spark, sfDir).select("doc_id", "text")
      .union(docsDF((300001L, ""), (300002L, "a  b "), (300003L, "x"),
        (300004L, "t t t"), (300005L, " ")).select("doc_id", "text"))
    val rows = docs.select(col("doc_id"),
      ge.column(org.apache.spark.sql.graft.MaxTokenFreq(ge.expression(col("text")))).as("k"),
      TextOps.maxTokenFreqHof.as("h")).collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"doc ${r.getLong(0)}"))
    assert(rows.nonEmpty)
  }

  test("repetition: longest sorted run equals the max token frequency") {
    val out = TextOps.repetition(docsDF((1L, "b a b c b"), (2L, "x y z")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // doc 1: b×3, a, c -> max freq 3 of 5 tokens, 3 distinct of 5
    assert(out(1L) === ((5L, 3L, 3.0 / 5, 1.0 - 3.0 / 5)))
    assert(out(2L) === ((3L, 1L, 1.0 / 3, 0.0)))
  }

  test("corpus report: one exact row over docs with duplicates and mixed languages") {
    val docs = Seq(
      (1L, "the a x y z", "s1"), // en (2/5)
      (2L, "the a x y z", "s1"), // exact dup of 1
      (3L, "p q r", "s2")) // not en
      .toDF("doc_id", "text", "source")
    val r = TextOps.corpusReport(docs).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 2L, 2L, 13L)))
    assert(r.getDouble(4) === 13.0 / 3)
    assert(r.getDouble(5) === 2.0 / 3)
  }

  test("sequence packing: a doc's sequence is its shard-local preceding token count / capacity") {
    val out = TextOps.packSequences(docsDF(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"), (4L, "a b c d")),
      capacity = 10, shards = 1)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(3)))
    // preceding tokens 0, 4, 8, 12 -> sequences 0, 0, 0, 1
    assert(out === Array((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L)))
  }

  test("filter cascade: first failing rule wins, clean docs keep") {
    val longTail = (1 to 30).map(i => s"w$i").mkString(" ")
    val out = TextOps.filterCascade(docsDF(
      (1L, "too short"), // < 20 words
      (2L, (1 to 25).map(_ => "x").mkString(" ")), // long but repetitive AND non-en: short-circuits to not_english
      (3L, s"the a the a $longTail"), // en-ratio high, diverse -> keep
      (4L, "the a the a the a the a the a the a the a the a the a the a the a")))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(out(1L) === ((false, Some("too_short"))))
    assert(out(2L) === ((false, Some("not_english"))))
    assert(out(3L) === ((true, None)))
    assert(out(4L) === ((false, Some("too_repetitive")))) // en-ratio passes, max freq 11/22
  }

  test("curation pipeline: filters first, dedup over survivors, full disposition") {
    val txt = "the a " + (1 to 30).map(i => s"w$i").mkString(" ")
    val out = TextOps.curationPipeline(docsDF(
      (1L, txt), (2L, txt), // exact dup pair -> 1 kept, 2 duplicate
      (3L, "too short"), // cascade rejects before dedup sees it
      (4L, txt + " tail"))) // near-dup of 1
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(
      1L -> "kept", 2L -> "duplicate", 3L -> "rejected:too_short", 4L -> "duplicate"))
  }

  test("curation pipeline v2: every stage's verdict lands in the status column") {
    // benchmark text passes the cascade itself (stopwords present) so its
    // near-copy reaches the contamination stage instead of dying earlier
    val bench = "the a alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau"
    val benchLike = bench + " phi"      // shares ~all benchmark shingles
    val keepText = "the a " + (1 to 25).map(i => s"w$i").mkString(" ")
    val dupText = keepText + " extra trailing informative words here"
    val out = TextOps.curationPipelineV2(docsDF(
      (100L, bench),              // benchmark holdout
      (1L, benchLike),            // contaminated
      (2L, "too short"),          // rejected:too_short
      (3L, keepText),             // duplicate (shorter member of the cluster)
      (4L, dupText),              // kept (longest representative)
      (5L, "the a " + (1 to 25).map(i => s"z$i").mkString(" "))), // kept, unique
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(100L) === "benchmark_holdout")
    assert(out(1L) === "contaminated")
    assert(out(2L) === "rejected:too_short")
    assert(out(3L) === "duplicate")
    assert(out(4L) === "kept")
    assert(out(5L) === "kept")
  }

  test("source overlap: shared shingles count once per pair, jaccard over distinct sets") {
    val docs = Seq(
      (1L, "a b c d", "s1"), // shingles {a b c, b c d}
      (2L, "a b c", "s2"), // {a b c}
      (3L, "p q r", "s2")) // {p q r}
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // shared {a b c}: 1 of (2 + 2 - 1) distinct shingles
    assert(out === Map(("s1", "s2") -> ((1L, 1.0 / 3))))
  }

  test("int8 quantization: values on code points reconstruct exactly, midpoints carry half-step error") {
    // dim 1 spans [0, 255]: scale 1.0, so integer values are exact code
    // points; 0.5 sits exactly between codes -> error 0.5. dim 2 constant.
    val emb = Seq(
      (1L, Array(0f, 7f), 0),
      (2L, Array(255f, 7f), 0),
      (3L, Array(0.5f, 7f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = EmbeddingOps.quantizeInt8Stats(emb).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((0.0, 0.0)))
    assert(out(2L) === ((0.0, 0.0)))
    assert(out(3L) === ((0.5, 0.25))) // (0.5 + 0.0) / 2 dims
  }

  test("label cohesion: centroid member of a symmetric pair scores cos(45°), singleton scores 1") {
    val emb = Seq(
      (1L, Array(1f, 0f), 1), // label-1 centroid = [0.5, 0.5]
      (2L, Array(0f, 1f), 1),
      (3L, Array(3f, 4f), 2)) // singleton label: centroid = itself
      .toDF("vec_id", "embedding", "label")
    val out = EmbeddingOps.labelCohesion(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) === 0.707107) // 0.5 / (1 * sqrt(0.5)), rounded to 6dp
    assert(out(2L) === 0.707107)
    assert(out(3L) === 1.0)
  }

  test("streaming curation: per-batch disposition equals the batch composition") {
    import org.apache.spark.sql.streaming.Trigger
    val txt = "the a " + (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = docsDF((1L, txt))
    val newDocs = docsDF(
      (11L, txt), // corpus dup
      (12L, "too short"), // cascade reject
      (13L, "the a " + (31 to 60).map(i => s"v$i").mkString(" "))) // clean
    val base = Scratch.dir("graft_curation_drops")
    newDocs.filter($"doc_id" <= 12).write.parquet(s"$base/drops/a")
    newDocs.filter($"doc_id" > 12).write.parquet(s"$base/drops/b")

    val (writer, release) =
      TextOps.streamingCurationManaged(spark, s"$base/drops/*", corpus, s"$base/log")
    val query = writer.trigger(Trigger.AvailableNow()).start()
    try query.awaitTermination(120000) finally release()

    val streamed = spark.read.parquet(s"$base/log").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === Map(
      11L -> "duplicate", 12L -> "rejected:too_short", 13L -> "kept"))
    val batch = TextOps.curateBatch(newDocs, corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === batch)
  }

  test("streaming near-dup over two drops equals the batch cross check") {
    import org.apache.spark.sql.streaming.Trigger
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = docsDF(
      (1L, text),
      (2L, "completely different words that share no shingles at all with others one two"))
    val newDocs = docsDF(
      (11L, text), // dup of corpus doc 1
      (12L, text + " extended"), // near-dup of 1
      (13L, "nothing in common with anything here at all whatsoever truly")) // clean
    val base = Scratch.dir("graft_doc_drops")
    val dropDir = s"$base/drops"
    val outPath = s"$base/pairs"
    val Array(dropA, dropB) = Array(newDocs.filter($"doc_id" <= 12), newDocs.filter($"doc_id" > 12))
    dropA.write.parquet(s"$dropDir/a")
    dropB.write.parquet(s"$dropDir/b")

    val (writer, release) =
      TextOps.streamingNearDupManaged(spark, s"$dropDir/*", corpus, outPath)
    val query = writer.trigger(Trigger.AvailableNow()).start()
    try query.awaitTermination(120000) finally release()

    val streamed = spark.read.parquet(outPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = TextOps.crossNearDup(newDocs, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.map(p => (p._1, p._2)).contains((11L, 1L))) // the exact dup
    assert(streamed.forall(_._2 === 1L)) // nothing pairs with corpus doc 2
    assert(!streamed.exists(_._1 === 13L)) // the clean doc produces no pair
  }

  test("simhash is identical for identical docs and 64 bits long") {
    val out = TextOps.simhash(docsDF((1L, "a b c d e f"), (2L, "a b c d e f")))
      .select("simhash64").as[String].collect()
    assert(out.toSet.size === 1)
    assert(out.head.length === 64 && out.head.forall(c => c == '0' || c == '1'))
  }

  test("banded simhash pairs equal brute-force all-pairs at hamming <= 3") {
    val docs = TextOps.docs(spark, sfDir).select("doc_id", "text")
    val banded = TextOps.simhashPairs(docs)
      .as[(Long, Long, Long)].collect().toSet
    // brute-force reference: every pair's full-signature Hamming distance
    val sigs = TextOps.simhash(docs).as[(Long, String)].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = sa.zip(sb).count { case (x, y) => x != y }.toLong if h <= 3
    } yield (a, b, h)).toSet
    assert(banded === brute)
    // identical docs pair at distance 0
    val dup = TextOps.simhashPairs(docsDF((1L, "a b c d e"), (2L, "a b c d e")))
      .as[(Long, Long, Long)].collect().toSeq
    assert(dup === Seq((1L, 2L, 0L)))
  }

  test("lexical knn: neighbor lists are symmetric, ranked by jaccard then id") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val out = TextOps.lexicalKnn(docsDF(
      (1L, t), (2L, t), (3L, t + " more"),
      (4L, "no overlap with anything else at all in this unrelated text here")), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // docs 1 and 2 are identical (jaccard 1.0 -> each other's rank 1);
    // doc 3 is the near-dup second choice for both, and 1,2 are its top two
    assert(out === Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 1L, 1L), (2L, 3L, 2L),
      (3L, 1L, 1L), (3L, 2L, 2L)))
  }

  test("simhash clusters: identical docs share one min-labeled cluster") {
    val t = "a b c d e f g h i j"
    val out = TextOps.simhashClusters(docsDF(
      (1L, t), (2L, t), (3L, t),
      (4L, "unrelated different tokens entirely elsewhere now then always maybe")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet.contains(1L) && out.keySet.contains(2L) && out.keySet.contains(3L))
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    assert(out.get(4L).forall(_ != 1L))
  }

  test("simhash band buckets stay far from quadratic on the corpus") {
    // the r6 finding: 16-bit whole-signature buckets cannot spread a large
    // corpus, so the pair join emitted a quadratic candidate mass. The
    // banded 64-bit index may still bucket genuine near-duplicates together
    // (that IS its job — the generator emits templated dups), but the total
    // candidate-pair mass must stay a tiny fraction of all-pairs.
    val docs = TextOps.docs(spark, sfDir).select("doc_id", "text")
    val n = docs.count()
    val buckets = TextOps.simhash(docs)
      .select(explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          substring(col("simhash64"), b * 16 + 1, 16).as("band_key"))): _*)).as("bk"))
      .groupBy(col("bk.band"), col("bk.band_key"))
      .agg(count(lit(1)).as("n"))
    val (maxOcc, candPairs) = {
      val r = buckets.agg(max("n"), sum(expr("n * (n - 1) div 2"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val allPairs = n * (n - 1) / 2
    // 500 docs at sf0.001 carry ~5% candidate mass, nearly all of it genuine
    // templated-dup clusters; cluster sizes are scale-constant, so the
    // fraction falls as the corpus grows — the bound only needs to catch a
    // quadratic regression (the 16-bit space put ~100% here)
    assert(candPairs <= allPairs / 10,
      s"candidate mass $candPairs of $allPairs all-pairs")
    assert(maxOcc < n / 2, s"one bucket holds $maxOcc of $n docs")
  }

  test("native minhash signatures equal the exploded groupBy-min formulation") {
    val ge = org.apache.spark.sql.graft.expressions
    val shingled = TextOps.shingles(TextOps.docs(spark, sfDir).select("doc_id", "text")
      .union(docsDF((200001L, "a b c"), (200002L, "x y z w v")).select("doc_id", "text")))
    val kernel = shingled.select(col("doc_id"),
      ge.column(org.apache.spark.sql.graft.MinHashSigs(ge.expression(col("shs")), 8)).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val exploded = TextOps.minhashSigsExploded(shingled)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(i => r.getString(i))).toMap
    assert(kernel.keySet === exploded.keySet)
    exploded.foreach { case (id, sig) => assert(kernel(id) === sig, s"doc $id") }
    assert(kernel.nonEmpty)
  }

  test("native simhash kernel is bit-identical to the HOF formulation on real docs") {
    val docs = TextOps.docs(spark, sfDir).select("doc_id", "text")
      // edge shapes the corpus may lack: empty string, double/trailing spaces
      .union(docsDF((100001L, ""), (100002L, "a  b "), (100003L, " leading"))
        .select("doc_id", "text"))
    val native = TextOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hof = TextOps.simhashHof(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native === hof)
    assert(native.nonEmpty)
  }

  test("chunking: stride-48 starts, size-64 slices, short tail chunks") {
    // 100 tokens, size 64 / overlap 16 -> starts at 1, 49, 97
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val out = TextOps.chunkDocs(docsDF((1L, text)))
      .select("chunk_id", "start_token", "n_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(out === List((0L, 1L, 64L), (1L, 49L, 52L), (2L, 97L, 4L)))
    // chunks overlap by 16: chunk 0 covers 1..64, chunk 1 covers 49..100
    val short = TextOps.chunkDocs(docsDF((2L, "a b c")))
      .select("chunk_id", "n_tokens").as[(Long, Long)].collect().toList
    assert(short === List((0L, 3L)))
  }

  test("salient terms rank by tf/df with token tie-break") {
    // 'rare' appears only in doc 1 (df=1); 'common' in both (df=2)
    val out = TextOps.salientTerms(docsDF(
      (1L, "rare rare common zz"), (2L, "common common common")), k = 2)
      .select("doc_id", "token", "tf", "df", "score", "rank")
      .as[(Long, String, Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._6).toList).toMap
    // doc 1: rare tf=2 df=1 score=2.0 beats zz tf=1 df=1 score=1.0
    assert(out(1L).map(t => (t._2, t._5)) === List(("rare", 2.0), ("zz", 1.0)))
    // doc 2: common tf=3 df=2 = 1.5
    assert(out(2L).head._2 === "common" && out(2L).head._5 === 1.5)
  }

  test("cluster size histogram counts dup groups by size") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words that share no shingles at all with others one two"
    // docs 1,2,3 identical (one 3-cluster); docs 4,5 identical (one 2-cluster)
    val out = TextOps.clusterSizeHistogram(docsDF(
      (1L, text), (2L, text), (3L, text), (4L, other), (5L, other)))
      .as[(Long, Long)].collect().toSet
    assert(out === Set((3L, 1L), (2L, 1L)))
  }

  test("per-source report: counts, dup rate and language mix by source") {
    val src = Seq(
      (1L, "the a the a the a x y z", "feedA"),
      (2L, "the a the a the a x y z", "feedA"),
      (3L, "zz yy xx ww vv uu tt ss", "feedB"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceReport(src)
      .select("source", "n_docs", "n_distinct_texts", "en_fraction")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("feedA") === ("feedA", 2L, 1L, 1.0)) // duplicated, english
    assert(out("feedB") === ("feedB", 1L, 1L, 0.0))
  }

  test("token count: whitespace tokens and chars/4 estimate") {
    val r = TextOps.tokenCount(docsDF((1L, "one two three"))).head()
    assert(r.getInt(1) === 3)
    assert(r.getLong(2) === math.ceil(13 / 4.0).toLong)
  }

  test("vocab top-k counts occurrences and document frequency") {
    // in-memory (non-file) corpus also exercises spread()'s partition-count
    // fallback path
    val out = TextOps.vocabTopK(docsDF(
      (1L, "the cat and the dog"), (2L, "the cat")), k = 2)
      .as[(String, Long, Long)].collect().toList
    assert(out === List(("the", 3L, 2L), ("cat", 2L, 2L)))
  }

  test("spread's non-file partition probe is cached per lineage (VERDICT r8 #7)") {
    val docs = docsDF(
      (1L, "the a " + (1 to 25).map(i => s"w$i").mkString(" ")),
      (2L, "the a " + (1 to 25).map(i => s"z$i").mkString(" ")),
      (3L, "too short"))
    // first pass pays the physical-planning probes for each distinct lineage
    TextOps.curationPipelineV2(docs, threshold = 0.5).collect()
    TextOps.vocabTopK(docs).collect()
    val afterFirst = TextOps.spreadProbeCount.get()
    assert(afterFirst > 0) // the non-file fallback actually ran
    // repeat: every spread-using stage re-derives the SAME lineages, so the
    // canonicalized-plan cache must absorb all probes — zero new planning
    TextOps.curationPipelineV2(docs, threshold = 0.5).collect()
    TextOps.vocabTopK(docs).collect()
    assert(TextOps.spreadProbeCount.get() === afterFirst)
  }

  test("bigrams top-k: counts adjacent pairs, single-token docs contribute none") {
    val out = TextOps.bigramsTopK(docsDF(
      (1L, "a b a b"), (2L, "a"), (3L, "b a")), k = 3)
      .as[(String, Long)].collect().toList
    assert(out === List(("a b", 2L), ("b a", 2L)))
  }

  test("train split: stable hash buckets in [0,100) with the 90/5/5 mapping") {
    val docs = docsDF((1 to 200).map(i => (i.toLong, s"doc $i")): _*)
    val out = TextOps.trainSplit(docs).as[(Long, Long, String)].collect()
    assert(out.forall { case (_, b, _) => b >= 0 && b < 100 })
    assert(out.forall { case (_, b, s) =>
      s == (if (b < 90) "train" else if (b < 95) "val" else "test") })
    // deterministic: a second run assigns every doc identically
    val again = TextOps.trainSplit(docs).as[(Long, Long, String)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    assert(out.count(_._3 == "train") > 150) // ~90% of 200
  }

  test("contamination flags corpus docs sharing a shingle with the benchmark set") {
    val out = TextOps.contamination(docsDF(
      (0L, "a b c d"),   // benchmark doc (id % 100 == 0)
      (1L, "a b c x"),   // shares shingle "a b c"
      (2L, "z z z z")))  // unrelated
      .as[(Long, Long)].collect().toList
    assert(out === List((1L, 1L)))
  }

  test("rolling fingerprint is order-sensitive") {
    val fps = TextOps.fingerprint(docsDF((1L, "a b"), (2L, "b a")))
      .select("rolling_fp").as[String].collect()
    assert(fps.distinct.length === 2)
  }

  test("lang id flags stopword-rich docs as en") {
    val out = TextOps.langId(docsDF(
      (1L, "the cat sat on the mat with a hat"),
      (2L, "datum vector matrix tensor kernel")))
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "other")
  }

  test("identical embeddings share an LSH bucket; cosine of a vector with itself is 1") {
    val emb = Seq(
      (0L, Array.tabulate(64)(i => (i % 5 + 1).toFloat), 0),
      (100L, Array.tabulate(64)(i => (i % 5 + 1).toFloat), 0),
      (2L, Array.tabulate(64)(i => ((i * 7) % 11 - 5).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
    val buckets = EmbeddingOps.lshBuckets(emb).select("vec_id", "bucket").as[(Long, String)].collect().toMap
    assert(buckets(0L) === buckets(100L))
    val top = EmbeddingOps.cosineTop10(emb).collect()
    val self = top.find(r => r.getLong(0) === 100L && r.getLong(1) === 0L).get
    assert(self.getDouble(2) === 1.0)
  }

  test("embedding near-dup flags identical vectors with cosine 1 and keeps the smaller id") {
    val emb = Seq(
      (3L, Array.tabulate(64)(i => (i % 7 + 1).toFloat), 0),
      (11L, Array.tabulate(64)(i => (i % 7 + 1).toFloat), 0),
      (5L, Array.tabulate(64)(i => ((i * 13) % 9 - 4).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = EmbeddingOps.cosineNearDup(emb, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((3L, 11L, 1.0)))
  }

  test("bucketed ANN pairs share a bucket, score like brute force, and cap at 5 per query") {
    val emb = graft.llm.EmbeddingOps.emb(spark, sfDir)
    val ann = EmbeddingOps.annBucketed(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(ann.nonEmpty)
    // ≤5 neighbors per query
    assert(ann.groupBy(_._1).values.forall(_.size <= 5))
    // every pair shares an LSH bucket
    val buckets = EmbeddingOps.lshBuckets(emb).select("vec_id", "bucket")
      .as[(Long, String)].collect().toMap
    assert(ann.forall { case (q, n, _) => buckets(q) === buckets(n) })
    // ANN cosines agree with the brute-force scorer for the same pairs
    val brute = EmbeddingOps.cosineTop10(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val overlapping = ann.filter { case (q, n, _) => brute.contains((q, n)) }
    assert(overlapping.nonEmpty)
    overlapping.foreach { case (q, n, c) => assert(brute((q, n)) === c, s"($q,$n)") }
  }

  test("multi-probe ANN matches a plain-Scala Hamming<=1 reference and finds cross-bucket neighbors") {
    // LCG-dispersed deterministic vectors: spread across many LSH buckets so
    // nearest neighbors genuinely live in adjacent (Hamming-1) buckets
    def vec(id: Long): Array[Float] =
      Array.tabulate(64)(i => ((((id * 1103515245L + i * 12345L) % 1009L) - 504L) / 100.0).toFloat)
    val n = 300
    val df = (0L until n).map(id => (id, vec(id))).toDF("vec_id", "embedding")

    // plain-Scala reference with the same plane formula / fold order
    def bits(v: Array[Float]): String = (1 to 8).map { j =>
      val s = (1 to 64).map(i => v(i - 1).toDouble * (((j * 31 + i * 17) % 7) - 3).toDouble).sum
      if (s > 0) "1" else "0"
    }.mkString
    def hamming(a: String, b: String): Int = a.zip(b).count { case (x, y) => x != y }
    def dot(a: Array[Float], b: Array[Float]): Double =
      (0 until 64).foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cosv(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val buckets = (0L until n).map(id => id -> bits(vec(id))).toMap
    // top-5 SETS per query (rank order within 6dp ties is compared as sets —
    // the full rank contract is oracle-checked by emb_ann_multiprobe)
    val expected = (0L until n).filter(_ % 100 == 0).map { q =>
      val cands = (0L until n).filter(o => o != q && hamming(buckets(o), buckets(q)) <= 1)
      q -> cands.map(o => (o, cosv(vec(q), vec(o))))
        .sortBy { case (o, c) => (-c, o) }.take(5).map(p => p._1 -> round6(p._2)).toMap
    }.toMap

    val out = EmbeddingOps.annMultiProbe(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(out.keySet === expected.keySet)
    expected.foreach { case (q, exp) => assert(out(q) === exp, s"query $q") }
    // the expansion genuinely crosses buckets for at least one query
    assert(expected.exists { case (q, ns) => ns.keys.exists(o => buckets(o) != buckets(q)) })
  }

  test("ANN reciprocal rank agrees with the brute top-1's position in the ann list") {
    val emb = EmbeddingOps.emb(spark, sfDir)
    val rr = EmbeddingOps.annMrr(emb)
      .select("query_id", "top1_id", "rr")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val brute = EmbeddingOps.cosineTop10(emb).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.minBy(r => (-r.getDouble(2), r.getLong(1))).getLong(1)).toMap
    val ann = EmbeddingOps.annBucketed(emb).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toList)
      .toMap
    assert(rr.keySet === brute.keySet)
    rr.foreach { case (q, (t1, r)) =>
      assert(t1 === brute(q), s"query $q top1")
      val idx = ann.getOrElse(q, Nil).indexOf(t1)
      assert(r === (if (idx < 0) 0.0 else 1.0 / (idx + 1)), s"query $q rr")
    }
  }

  test("hard negatives match a plain-Scala reference and exclude the positive band") {
    val emb = EmbeddingOps.emb(spark, sfDir)
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def bits(v: Array[Float]): String = (1 to 8).map { j =>
      val s = (1 to 64).map(i => v(i - 1).toDouble * (((j * 31 + i * 17) % 7) - 3).toDouble).sum
      if (s > 0) "1" else "0"
    }.mkString
    def dot(a: Array[Float], b: Array[Float]): Double =
      (0 until 64).foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cosv(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val buckets = vecs.map { case (id, v) => id -> bits(v) }
    val expected = vecs.keys.filter(_ % 100 == 0).map { q =>
      val scored = vecs.keys.toSeq
        .filter(o => o != q && buckets(o) == buckets(q))
        .map(o => o -> round6(cosv(vecs(q), vecs(o))))
      q -> scored.filter(_._2 < 0.35)
        .sortBy { case (o, c) => (-c, o) }.take(3).zipWithIndex
        .map { case ((o, c), i) => (o, c, (i + 1).toLong) }
    }.toMap
    val out = EmbeddingOps.hardNegatives(emb)
      .select("query_id", "neighbor_id", "cosine", "rn")
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq).toMap
    val nonEmpty = expected.filter(_._2.nonEmpty)
    assert(nonEmpty.nonEmpty)
    assert(out.keySet === nonEmpty.keySet)
    nonEmpty.foreach { case (q, exp) => assert(out(q) === exp, s"query $q") }
    // the positive-band cut genuinely bites on this corpus: some in-bucket
    // candidate scores >= 0.35 and is absent from the mined negatives
    assert(vecs.keys.filter(_ % 100 == 0).exists { q =>
      vecs.keys.exists(o => o != q && buckets(o) == buckets(q) &&
        round6(cosv(vecs(q), vecs(o))) >= 0.35)
    })
  }

  test("persisted ANN index serves identically to the in-memory bucket join, with partition pruning") {
    val e = EmbeddingOps.emb(spark, sfDir)
    val path = Scratch.dir("graft_idx_spec_") + "/index"
    EmbeddingOps.writeAnnIndex(e, path)
    val queries = spark.read.parquet(path).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val served = EmbeddingOps.annFromIndex(spark, path, queries)
    val inMem = EmbeddingOps.annBucketed(e)
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ===
      inMem.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    // the index scan prunes partitions dynamically from the query buckets —
    // the disk-layout analog of the bucket candidate cut
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(4000))
  }

  test("drift report flags a planted median shift and stays quiet on identical slices") {
    // reference (even ids): values centered at 0 in dim 1; current (odd):
    // dim 1 shifted by +2 IQRs, every other dim identical
    def vec(id: Long): Array[Float] = Array.tabulate(64) { j =>
      val base = ((id * 7 + j * 13) % 11 - 5).toFloat / 10 // spread, iqr > 0
      if (j == 0 && id % 2 == 1) base + 2.0f else base
    }
    val df = (0L until 200L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val out = EmbeddingOps.embDriftReport(df, col("vec_id") % 2 === 1)
      .select("dim", "shift", "drifted")
      .as[(Int, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size === 64)
    assert(out(1)._3, "planted shift in dim 1 must flag")
    assert(out(1)._2 > 1.0)
    assert((2 to 64).forall(d => !out(d)._3), "unshifted dims must not flag")
    // mirrored slices (ids 2k and 2k+1 share content): exactly zero shift
    def cleanVec(id: Long): Array[Float] =
      Array.tabulate(64)(j => ((id * 7 + j * 13) % 11 - 5).toFloat / 10)
    val mirrored = (0L until 200L).map(id => (id, cleanVec(id / 2)))
      .toDF("vec_id", "embedding")
    val same = EmbeddingOps.embDriftReport(mirrored, col("vec_id") % 2 === 1)
      .select("shift", "drifted").as[(Double, Boolean)].collect()
    assert(same.forall(r => r._1 === 0.0 && !r._2))
  }

  test("quantized decode matches the int8 report's reconstruction arithmetic") {
    val df = (0L until 50L)
      .map(id => (id, Array.tabulate(64)(i => (math.sin(id * 3.1 + i) * 5).toFloat)))
      .toDF("vec_id", "embedding")
    val dec = EmbeddingOps.quantizeDecode(df)
      .select(col("vec_id"), col("embedding").as("recon"))
    val err = df.join(dec, Seq("vec_id"))
      .select(col("vec_id"),
        round(array_max(zip_with(col("embedding"), col("recon"),
          (x, y) => abs(x.cast("double") - y))), 6)
          .cast("decimal(10,6)").cast("double").as("max_err"))
      .as[(Long, Double)].collect().toMap
    val reported = EmbeddingOps.quantizeInt8Stats(df)
      .select("vec_id", "max_abs_err").as[(Long, Double)].collect().toMap
    assert(err.keySet === reported.keySet)
    err.foreach { case (id, e) => assert(e === reported(id), s"vec $id") }
  }

  test("length-weighted sample: cap-sized docs always kept, rate tracks n_chars") {
    import spark.implicits._
    val docs = TextOps.docs(spark, sfDir)
    val kept = TextOps.sampleWeighted(docs, capChars = 500L).collect()
    // threshold arithmetic: bucket < least(n_chars,500)*10000 div 500 == n_chars*20 capped
    kept.foreach { r =>
      val (nc, bucket, thr) = (r.getAs[Long]("n_chars"),
        r.getAs[Long]("sample_bucket"), r.getAs[Long]("keep_threshold"))
      assert(thr === math.min(nc, 500L) * 10000L / 500L)
      assert(bucket < thr)
    }
    // every >= cap-sized doc has threshold 10000 → always kept
    val capIds = docs.filter($"n_chars" >= 500).select("doc_id").as[Long].collect().toSet
    assert(capIds.subsetOf(kept.map(_.getAs[Long]("doc_id")).toSet))
    // deterministic: second run identical
    val again = TextOps.sampleWeighted(docs, capChars = 500L)
      .select("doc_id").as[Long].collect().toSet
    assert(again === kept.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("ANN recall@5 agrees with a direct set comparison of ann vs brute top-5") {
    import spark.implicits._
    val emb = EmbeddingOps.emb(spark, sfDir)
    val recall = EmbeddingOps.annRecall(emb)
      .select("query_id", "recall_at_5").as[(Long, Double)].collect().toMap
    val brute = EmbeddingOps.cosineTop10(emb).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(5)
        .map(_.getLong(1)).toSet).toMap
    val ann = EmbeddingOps.annBucketed(emb).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(recall.keySet === brute.keySet)
    recall.foreach { case (q, r) =>
      val expected = (brute(q) & ann.getOrElse(q, Set.empty)).size / 5.0
      assert(r === expected, s"query $q")
      assert(r >= 0.0 && r <= 1.0)
    }
  }

  test("distilled classifier matches a plain-Scala NB reference; exclusive tokens steer the sign") {
    // Positive docs are stopword-rich (label rule fires) and carry `posXY`
    // content tokens; negative docs carry `negXY`. 60 ids so both classes
    // land in both splits whatever the md5 buckets do.
    val rows = (1L to 60L).map { i =>
      if (i % 2 == 1) (i, s"the a the cat pos${i % 5} pos${(i + 1) % 5}")
      else (i, s"datum vector neg${i % 5} neg${(i + 1) % 5} kernel tensor")
    }
    val out = TextOps.classifierScores(docsDF(rows: _*))
      .select("doc_id", "label", "is_train", "score", "predicted", "agree")
      .as[(Long, Boolean, Boolean, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap

    // independent reference: same md5 split, same label rule, same integer
    // weight and score arithmetic, in plain Scala
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
    }
    val toks = rows.map { case (id, t) =>
      id -> "[A-Za-z0-9_]+".r.findAllIn(t).toSeq }.toMap
    def label(t: String): Boolean = {
      val ws = t.split(" ", -1)
      ws.count(w => w == "the" || w == "a").toDouble / ws.length >= 0.05
    }
    val lab = rows.map { case (id, t) => id -> label(t) }.toMap
    val train = rows.map(_._1).filter(bucket(_) < 90)
    assert(train.nonEmpty && train.size < rows.size) // both splits inhabited
    val tfPos = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val tfNeg = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    train.foreach(id => toks(id).foreach { t =>
      if (lab(id)) tfPos(t) += 1 else tfNeg(t) += 1 })
    val (tPos, tNeg) = (tfPos.values.sum, tfNeg.values.sum)
    def weight(t: String): Long = tfPos(t) * tNeg - tfNeg(t) * tPos
    rows.foreach { case (id, _) =>
      val score = toks(id).map(weight).sum
      val exp = (id, lab(id), bucket(id) < 90, score, score > 0, (score > 0) == lab(id))
      assert(out(id) === exp, s"doc $id")
    }
    // the content tokens alone steer the sign: every pos* weight positive,
    // every neg* negative (they are class-exclusive in training)
    assert((0 to 4).forall(i => weight(s"pos$i") > 0 && weight(s"neg$i") < 0))
    // and the classifier fully recovers this separable fixture
    assert(out.values.forall(_._6))
  }

  test("leakage-safe split keys every near-dup on its representative; singletons match trainSplit") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val text2 = "the quick brown fox jumps over the lazy dog again and again more"
    val docs = docsDF(
      (1L, text), (2L, text), (3L, text2),
      (4L, "completely different words that share no shingles at all with others one two"))
    val out = TextOps.leakageSafeSplit(docs, threshold = 0.5)
      .select("doc_id", "split_key", "bucket", "split")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // the {1,2,3} cluster keys on representative 1 — identical split for all
    assert(Seq(1L, 2L, 3L).map(out(_)._2).forall(_ == 1L))
    assert(Seq(1L, 2L, 3L).map(out(_)._4).distinct.size === 1)
    // the singleton keys on itself, exactly as plain trainSplit would
    assert(out(4L)._2 === 4L)
    val plain = TextOps.trainSplit(docs).as[(Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert((out(4L)._3, out(4L)._4) === (plain(4L)._2, plain(4L)._3))
    assert((out(2L)._3, out(2L)._4) === (plain(1L)._2, plain(1L)._3)) // dup inherits rep's split
  }

  test("classifierScore applies a given weight table; OOV tokens score zero") {
    val weights = Seq(("pos", 5L), ("neg", -3L)).toDF("token", "weight")
    val out = TextOps.classifierScore(docsDF(
      (1L, "pos pos neg"),   // 2*5 - 3 = 7 -> positive
      (2L, "neg neg pos"),   // -6 + 5 = -1 -> negative
      (3L, "oov tokens only")), weights)
      .select("doc_id", "score", "predicted")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out === Map(1L -> (7L, true), 2L -> (-1L, false), 3L -> (0L, false)))
  }

  test("classifierScores equals the train-then-score composition") {
    val rows = (1L to 50L).map { i =>
      if (i % 2 == 1) (i, s"the a the cat pos${i % 5}") else (i, s"datum neg${i % 5} kernel") }
    val docs = docsDF(rows: _*)
    val composed = TextOps.classifierScore(docs, TextOps.classifierTrain(docs))
      .select("doc_id", "score", "predicted")
      .as[(Long, Long, Boolean)].collect().toSet
    val direct = TextOps.classifierScores(docs)
      .select("doc_id", "score", "predicted")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(composed === direct)
  }

  test("classifier threshold sweep matches a direct decile computation") {
    val rows = (1L to 40L).map { i =>
      if (i % 2 == 1) (i, s"the a the cat pos${i % 7} extra$i")
      else (i, s"datum vector neg${i % 7} kernel fill$i word$i") }
    val docs = docsDF(rows: _*)
    val out = TextOps.classifierThresholdSweep(docs)
      .select("decile", "n_docs", "decile_tokens", "cum_docs", "cum_tokens", "token_share")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    // direct reference from the (already reference-pinned) per-doc scores
    val scored = TextOps.classifierScores(docs)
      .select("doc_id", "score").as[(Long, Long)].collect()
    val toks = rows.map { case (id, t) =>
      id -> "[A-Za-z0-9_]+".r.findAllIn(t).size.toLong }.toMap
    val order = scored.sortBy { case (id, s) => (-s, id) }
    // ntile(10) over 40 rows: 4 per decile
    val deciles = order.grouped(4).toSeq
    val totalTokens = toks.values.sum
    var (cd, ct) = (0L, 0L)
    out.zip(deciles).zipWithIndex.foreach { case (((d, n, dt, cdo, cto, share), grp), i) =>
      val grpTokens = grp.map(g => toks(g._1)).sum
      cd += 4; ct += grpTokens
      assert((d, n, dt, cdo, cto) === ((i + 1).toLong, 4L, grpTokens, cd, ct), s"decile ${i + 1}")
      assert(share === ct.toDouble / totalTokens)
    }
    assert(out.last._4 === 40L && out.last._6 === 1.0)
  }

  test("vocab drift flags doubled, vanished, and newborn material tokens; stable mix stays quiet") {
    // ref (even ids) and cur (odd ids) share a stable base mix; cur doubles
    // the share of `hot`, drops `gone` entirely, and introduces `newb`
    val rows = (0L until 100L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta"
      if (i % 2 == 0) (i, s"$base hot gone")
      else (i, s"$base hot hot hot newb")
    }
    val out = TextOps.vocabDrift(docsDF(rows: _*), col("doc_id") % 2 === 1)
      .select("token", "c_ref", "c_cur", "drifted")
      .as[(String, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out("gone") === ("gone", 50L, 0L, true))   // vanished, material in ref
    assert(out("newb") === ("newb", 0L, 50L, true))   // newborn, material in cur
    assert(out("hot")._4, "share-tripled token must flag")
    // the stable base mix must not flag (shares move <2x from the extra
    // tokens' denominators)
    Seq("alpha", "beta", "gamma").foreach(t => assert(!out(t)._4, t))
    // count arithmetic: ref total 10*50, cur total 12*50
    assert(out("hot")._2 === 50L && out("hot")._3 === 150L)
  }

  test("classifier model card surfaces class-exclusive tokens with the right sign") {
    val rows = (1L to 60L).map { i =>
      if (i % 2 == 1) (i, s"the a the cat pos${i % 5}")
      else (i, s"datum vector neg${i % 5} kernel") }
    val card = TextOps.classifierModelCard(docsDF(rows: _*), k = 10)
      .select("token", "tf_pos", "tf_neg", "weight", "direction")
      .as[(String, Long, Long, Long, String)].collect()
    val byDir = card.groupBy(_._5)
    assert(byDir("positive").forall(_._4 > 0))
    assert(byDir("negative").forall(_._4 < 0))
    val posTokens = byDir("positive").map(_._1).toSet
    val negTokens = byDir("negative").map(_._1).toSet
    // class-exclusive content tokens surface on their side
    assert((0 to 4).exists(i => posTokens(s"pos$i")))
    assert((0 to 4).exists(i => negTokens(s"neg$i")))
    // tf counts respect exclusivity: pos* never counted in the neg class
    card.filter(_._1.startsWith("pos")).foreach(t => assert(t._3 === 0L))
    card.filter(_._1.startsWith("neg")).foreach(t => assert(t._2 === 0L))
  }

  test("normalized weights are rank-identical to integer weights and reach the same verdicts") {
    val docs = TextOps.docs(spark, sfDir).select("doc_id", "text")
    // token ranking: the normalized weight is the integer weight divided by
    // the positive constant T_pos*T_neg, so (weight desc, token) order must
    // agree exactly
    def ranking(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("weight").desc, col("token"))
      .select("token").as[String].collect().toSeq
    assert(ranking(TextOps.classifierTrainNormalized(docs)) ===
      ranking(TextOps.classifierTrain(docs).select(col("token"),
        col("weight").cast("double").as("weight"))))
    // decision surface: per-doc predicted/agree identical through either
    // weight form
    val ints = TextOps.classifierScores(docs)
      .select("doc_id", "predicted", "agree")
      .as[(Long, Boolean, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val norm = TextOps.classifierScoresNormalized(docs)
      .select("doc_id", "predicted", "agree")
      .as[(Long, Boolean, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(norm === ints)
  }

  test("approx sweep tracks the exact decile rollup within its analytical bound") {
    val docs = TextOps.docs(spark, sfDir).select("doc_id", "text")
    // the checked gate face requires the bound internally and returns the
    // exact frame — a violated bound throws, a passing one is the gate row
    val out = TextOps.classifierSweepApproxChecked(docs)
    assert(out.count() === 10L)
    // the approx variant's own rollup conserves docs and tokens exactly
    val exact = TextOps.classifierThresholdSweep(docs)
      .agg(sum("n_docs"), sum("decile_tokens")).as[(Long, Long)].head()
    val approx = TextOps.classifierThresholdSweepApprox(docs)
      .agg(sum("n_docs"), sum("decile_tokens")).as[(Long, Long)].head()
    assert(approx === exact)
  }

  test("approx dim stats honor the GK rank contract and the checked gate emits the exact frame") {
    val emb = graft.llm.EmbeddingOps.emb(spark, sfDir)
    val checked = graft.llm.EmbeddingOps.embDimStatsApproxChecked(emb)
    val exact = graft.llm.EmbeddingOps.embDimStats(emb)
    assert(checked.collect().toSeq.toSet === exact.collect().toSeq.toSet)
    // the approx variant agrees with exact on n and stays inside the
    // exact quartile envelope on this well-populated fixture
    val a = graft.llm.EmbeddingOps.embDimStatsApprox(emb)
      .select("dim", "n", "median").as[(Long, Long, Double)].collect()
      .map { case (d, n, m) => d -> ((n, m)) }.toMap
    val e = exact.select("dim", "n", "q1", "q3")
      .as[(Long, Long, Double, Double)].collect()
    e.foreach { case (d, n, q1, q3) =>
      val (na, ma) = a(d)
      assert(na === n)
      assert(ma >= q1 && ma <= q3, s"dim $d: approx median $ma outside [$q1, $q3]")
    }
  }

  test("classifier eval aggregates agreement per split") {
    val rows = (1L to 40L).map { i =>
      if (i % 2 == 1) (i, "the a the cat") else (i, "datum vector kernel") }
    val eval = TextOps.classifierEval(docsDF(rows: _*))
      .select("is_train", "n_docs", "n_agree", "agreement")
      .as[(Boolean, Long, Long, Double)].collect()
    assert(eval.length === 2) // both splits present
    assert(eval.map(_._2).sum === 40L)
    eval.foreach { case (_, n, a, acc) =>
      assert(a >= 0 && a <= n); assert(acc === a.toDouble / n) }
  }
}
