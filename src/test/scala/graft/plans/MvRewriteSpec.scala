package graft.plans

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import PlanRuleSupport.scanRoots

/** The MV-rewrite contract: aggregates derivable from the registered
  * summary reroute to it (and only those), results are identical either
  * route, and the rule is inert without its flag / registration. */
class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def withMv[A](f: String => A): A = {
    val base = Scratch.dir("graft_mvspec_")
    // base grain: exact decimal measure + long measure, two keys
    (1L to 100L).map(i => (i % 7, s"c${i % 3}", BigDecimal(i).setScale(2), i * 2))
      .toDF("k", "c", "amount", "qty")
      .write.parquet(s"$base/grain")
    spark.read.parquet(s"$base/grain").groupBy("k", "c")
      .agg(sum("amount").as("amount_p"), sum("qty").as("qty_p"),
        count(col("amount")).as("amount_cnt"), count(col("qty")).as("qty_cnt"),
        min("amount").as("amount_min"), max("amount").as("amount_max"),
        count(lit(1)).as("n_rows"))
      .write.parquet(s"$base/mv")
    MvRewrite.register(spark, s"$base/grain", spark.read.parquet(s"$base/mv"),
      keys = Seq("k", "c"), sums = Map("amount" -> "amount_p", "qty" -> "qty_p"),
      countCol = Some("n_rows"),
      counts = Map("amount" -> "amount_cnt", "qty" -> "qty_cnt"),
      mins = Map("amount" -> "amount_min"), maxs = Map("amount" -> "amount_max"))
    spark.experimental.extraOptimizations = Seq(MvRewrite)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try f(base) finally {
      spark.conf.unset(MvRewrite.EnabledKey)
      spark.experimental.extraOptimizations = Nil
      MvRewrite.clear()
    }
  }

  /** `body` evaluated with the rewrite switched off: the direct answer an
    * MV-served query must equal. */
  private def withoutRewrite[A](body: => A): A = {
    spark.conf.set(MvRewrite.EnabledKey, "false")
    try body finally spark.conf.set(MvRewrite.EnabledKey, "true")
  }

  test("coarser-grain sum/count aggregates reroute to the MV with identical results") {
    withMv { base =>
      def query() = spark.read.parquet(s"$base/grain")
        .groupBy("c")
        .agg(sum("amount").as("rev"), sum("qty").as("tq"), count(lit(1)).as("n"))
        .select(col("c"), col("rev").cast("double").as("rev"), col("tq"), col("n"))
      val rewritten = query()
      assert(scanRoots(rewritten).forall(_.endsWith("/mv")), scanRoots(rewritten))
      val served = rewritten.as[(String, Double, Long, Long)].collect().toSet
      val direct = withoutRewrite(query().as[(String, Double, Long, Long)].collect().toSet)
      assert(served === direct)
      assert(served.toSeq.map(_._4).sum === 100L)
    }
  }

  test("same-grain aggregate (all keys) also reroutes") {
    withMv { base =>
      val q = spark.read.parquet(s"$base/grain").groupBy("k", "c")
        .agg(sum("qty").as("tq"))
      assert(scanRoots(q).forall(_.endsWith("/mv")))
      assert(q.select(sum("tq")).as[Long].head() === (1L to 100L).map(_ * 2).sum)
    }
  }

  test("non-derivable aggregates and non-key groups stay on the base table") {
    withMv { base =>
      val grain = spark.read.parquet(s"$base/grain")
      // count distinct is not re-aggregable
      val cd = grain.groupBy("c").agg(count_distinct(col("qty")).as("d"))
      assert(scanRoots(cd).forall(_.endsWith("/grain")), scanRoots(cd))
      // min has a registered partial for amount but NOT for qty
      val mn = grain.groupBy("c").agg(min("qty").as("m"))
      assert(scanRoots(mn).forall(_.endsWith("/grain")))
      // count(NULL) is constantly 0, not the row count — it must never
      // route onto the Σ n_rows partial (ADVICE r11)
      val cn = grain.groupBy("c").agg(count(lit(null)).as("z"))
      assert(scanRoots(cn).forall(_.endsWith("/grain")), scanRoots(cn))
      assert(cn.as[(String, Long)].collect().forall(_._2 === 0L))
      // grouping by a non-key (measure) column must not reroute
      val ng = grain.groupBy("qty").agg(sum("amount").as("s"))
      assert(scanRoots(ng).forall(_.endsWith("/grain")))
    }
  }

  test("avg/min/max reroute via their partials with bit-identical results") {
    withMv { base =>
      def query() = spark.read.parquet(s"$base/grain")
        .groupBy("c")
        .agg(avg("amount").as("avg_dec"), avg("qty").as("avg_int"),
          min("amount").as("mn"), max("amount").as("mx"))
      val rewritten = query()
      assert(scanRoots(rewritten).forall(_.endsWith("/mv")), scanRoots(rewritten))
      val direct = withoutRewrite(query().collect().toSet)
      // Row equality compares the decimal avg exactly — the rewrite must
      // reproduce Average's decimal divide bit-for-bit, not approximately
      assert(rewritten.collect().toSet === direct)
      // avg over doubles is NOT derivable (re-summing fp partials reorders
      // the accumulation) — it must stay on the base even when a sum
      // partial of a same-named column exists
      val dbl = spark.read.parquet(s"$base/grain")
        .withColumn("amount", col("amount").cast("double"))
        .groupBy("c").agg(avg("amount").as("a"))
      assert(scanRoots(dbl).forall(_.endsWith("/grain")))
    }
  }

  test("key-column filters replay on the MV; measure or nondeterministic filters stay on base") {
    withMv { base =>
      val grain = spark.read.parquet(s"$base/grain")
      // a deterministic predicate over a group key reroutes, with the
      // filter replayed on the summary cells — results identical
      def query() = grain.filter(col("k") >= 3L)
        .groupBy("c").agg(sum("qty").as("tq"), count(lit(1)).as("n"))
      val rr = query()
      assert(scanRoots(rr).forall(_.endsWith("/mv")), scanRoots(rr))
      val direct = withoutRewrite(query().as[(String, Long, Long)].collect().toSet)
      assert(rr.as[(String, Long, Long)].collect().toSet === direct)
      assert(rr.select(sum("n")).as[Long].head() ===
        (1L to 100L).count(i => i % 7 >= 3).toLong)
      // a predicate on a MEASURE filters rows inside a cell — not derivable
      val mf = grain.filter(col("qty") > 50L).groupBy("c").agg(sum("qty").as("t"))
      assert(scanRoots(mf).forall(_.endsWith("/grain")), scanRoots(mf))
      // a nondeterministic predicate never reroutes, even when it touches
      // no measure column (rand() < 1 gets constant-folded; .999999 doesn't)
      val nd = grain.filter(rand() < 0.999999).groupBy("c").agg(sum("qty").as("t"))
      assert(scanRoots(nd).forall(_.endsWith("/grain")), scanRoots(nd))
    }
  }

  test("empty base: rewritten global count is 0 (not NULL) and schema stays non-nullable") {
    val base = Scratch.dir("graft_mvempty_")
    Seq.empty[(String, Long)].toDF("c", "qty").write.parquet(s"$base/grain")
    spark.read.parquet(s"$base/grain").groupBy("c")
      .agg(sum("qty").as("qty_p"), count(lit(1)).as("n_rows"))
      .write.parquet(s"$base/mv")
    MvRewrite.register(spark, s"$base/grain", spark.read.parquet(s"$base/mv"),
      keys = Seq("c"), sums = Map("qty" -> "qty_p"), countCol = Some("n_rows"))
    spark.experimental.extraOptimizations = Seq(MvRewrite)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      val g = spark.read.parquet(s"$base/grain").agg(count(lit(1)).as("n"))
      assert(scanRoots(g).forall(_.endsWith("/mv")), scanRoots(g))
      assert(!g.schema("n").nullable)
      assert(g.as[Long].head() === 0L)
    } finally {
      spark.conf.unset(MvRewrite.EnabledKey)
      spark.experimental.extraOptimizations = Nil
      MvRewrite.clear()
    }
  }

  test("a query aggregating the registered base twice reroutes both without exprId collisions") {
    withMv { base =>
      def agg1 = spark.read.parquet(s"$base/grain").groupBy("c")
        .agg(sum("amount").as("v"))
      val u = agg1.union(agg1)
      assert(scanRoots(u).forall(_.endsWith("/mv")), scanRoots(u))
      val got = u.groupBy("c").agg(sum("v").cast("double").as("t"))
        .as[(String, Double)].collect().toMap
      val expect = (1L to 100L).groupBy(i => s"c${i % 3}")
        .map { case (k, is) => k -> is.map(_.toDouble).sum * 2 }
      assert(got === expect)
    }
  }

  test("approx distinct: routes onto the sketch only under its own opt-in, exact in sparse regime") {
    val base = Scratch.dir("graft_mvhll_")
    (1L to 100L).map(i => (s"c${i % 3}", i % 40, BigDecimal(i).setScale(2)))
      .toDF("c", "inv", "amount")
      .write.parquet(s"$base/grain")
    spark.read.parquet(s"$base/grain").groupBy("c")
      .agg(sum("amount").as("amount_p"), hll_sketch_agg(col("inv")).as("inv_sketch"))
      .write.parquet(s"$base/mv")
    MvRewrite.register(spark, s"$base/grain", spark.read.parquet(s"$base/mv"),
      keys = Seq("c"), sums = Map("amount" -> "amount_p"),
      distincts = Map("inv" -> "inv_sketch"))
    spark.experimental.extraOptimizations = Seq(MvRewrite)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      def q() = spark.read.parquet(s"$base/grain").groupBy("c")
        .agg(count_distinct(col("inv")).as("d"))
      // without the approx opt-in, a distinct count NEVER reroutes — the
      // semantics change requires its own flag, not just a registration
      assert(scanRoots(q()).forall(_.endsWith("/grain")))
      spark.conf.set(MvRewrite.ApproxDistinctKey, "true")
      val served = q()
      assert(scanRoots(served).forall(_.endsWith("/mv")), scanRoots(served))
      // sparse-regime exactness: the estimate equals the exact count
      val got = served.as[(String, Long)].collect().toMap
      val exact = Map("c0" -> 40L, "c1" -> 40L, "c2" -> 40L)
        .map { case (k, _) => k -> (1L to 100L).filter(i => s"c${i % 3}" == k)
          .map(_ % 40).distinct.size.toLong }
      assert(got === exact)
    } finally {
      spark.conf.unset(MvRewrite.ApproxDistinctKey)
      spark.conf.unset(MvRewrite.EnabledKey)
      spark.experimental.extraOptimizations = Nil
      MvRewrite.clear()
    }
  }

  test("HAVING (filter above the aggregate) routes and selects the same groups") {
    withMv { base =>
      // HAVING references the aggregate's output attrs; the rewrite keeps
      // their exprIds, so the filter applies unchanged over the MV route
      def query() = spark.read.parquet(s"$base/grain")
        .groupBy("c")
        .agg(sum("qty").as("tq"), count(lit(1)).as("n"))
        .filter(col("tq") > 3350L)
      val rr = query()
      assert(scanRoots(rr).forall(_.endsWith("/mv")), scanRoots(rr))
      val direct = withoutRewrite(query().as[(String, Long, Long)].collect().toSet)
      assert(rr.as[(String, Long, Long)].collect().toSet === direct)
      // the predicate actually splits the groups (not vacuous): sums are
      // c2=3300, c0=3366, c1=3434 — the 3350 cut keeps c0/c1, drops c2
      val expect = (1L to 100L).groupBy(i => s"c${i % 3}")
        .collect { case (k, is) if is.map(_ * 2).sum > 3350L =>
          (k, is.map(_ * 2).sum, is.size.toLong) }.toSet
      assert(direct === expect && expect.nonEmpty && expect.size < 3)
    }
  }

  test("ROLLUP/CUBE over MV keys route through the replayed Expand, grouping_id intact") {
    withMv { base =>
      def query() = spark.read.parquet(s"$base/grain")
        .rollup("k", "c")
        .agg(sum("amount").as("rev"), avg("amount").as("avg_a"),
          min("amount").as("mn"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
      val rr = query()
      assert(scanRoots(rr).forall(_.endsWith("/mv")), scanRoots(rr))
      val direct = withoutRewrite(query().collect().toSet)
      // decimal sum/avg must be bit-identical at every grain incl. the
      // grand total; row set covers all 3 rollup grains
      assert(rr.collect().toSet === direct)
      assert(direct.count(r => r.isNullAt(0) && r.isNullAt(1)) === 1)
      assert(rr.count() === (7 * 3 + 7 + 1))
      // cube and a coarser one-key rollup take the same path
      val cube = spark.read.parquet(s"$base/grain")
        .cube("k", "c").agg(sum("qty").as("tq"))
      assert(scanRoots(cube).forall(_.endsWith("/mv")), scanRoots(cube))
      assert(cube.count() === (7 * 3 + 7 + 3 + 1))
      val r1 = spark.read.parquet(s"$base/grain")
        .rollup("c").agg(sum("qty").as("tq"))
      assert(scanRoots(r1).forall(_.endsWith("/mv")))
      assert(r1.filter(col("c").isNull).as[(String, Long)].head()._2 ===
        (1L to 100L).map(_ * 2).sum)
    }
  }

  test("grouping sets touching a measure column or non-derivable aggregate stay on base") {
    withMv { base =>
      val grain = spark.read.parquet(s"$base/grain")
      // rollup over a measure column is not replayable on the summary
      val mr = grain.rollup("c", "qty").agg(sum("amount").as("s"))
      assert(scanRoots(mr).forall(_.endsWith("/grain")), scanRoots(mr))
      // a non-derivable aggregate disqualifies the whole rollup
      val cd = grain.rollup("k", "c").agg(count_distinct(col("qty")).as("d"))
      assert(scanRoots(cd).forall(_.endsWith("/grain")), scanRoots(cd))
    }
  }

  test("aggregate over base JOIN dim reroutes when the join key is an MV key") {
    withMv { base =>
      // dim keyed by the MV key `c`, carrying a grouping attribute
      val dim = Seq(("c0", "west"), ("c1", "east"), ("c2", "east"))
        .toDF("c", "region")
      val dimPath = s"$base/dim"
      dim.write.parquet(dimPath)
      def query(jt: String) = spark.read.parquet(s"$base/grain")
        .join(spark.read.parquet(dimPath), Seq("c"), jt)
        .groupBy("region")
        .agg(sum("amount").as("rev"), avg("amount").as("avg_a"),
          count(lit(1)).as("n"))
      for (jt <- Seq("inner", "left")) {
        val rr = query(jt)
        assert(scanRoots(rr).exists(_.endsWith("/mv")), (jt, scanRoots(rr)))
        assert(!scanRoots(rr).exists(_.endsWith("/grain")), jt)
        val direct = withoutRewrite(query(jt).collect().toSet)
        assert(rr.collect().toSet === direct, jt)
      }
      // grouping by BOTH a dim column and an MV key still routes
      val mixed = spark.read.parquet(s"$base/grain")
        .join(spark.read.parquet(dimPath), Seq("c"), "inner")
        .groupBy("region", "k").agg(sum("qty").as("tq"))
      assert(scanRoots(mixed).exists(_.endsWith("/mv")), scanRoots(mixed))
      assert(mixed.select(sum("tq")).as[Long].head() === (1L to 100L).map(_ * 2).sum)
      // a non-unique dim key duplicates cells exactly as it duplicated rows
      val dup = dim.union(Seq(("c1", "north")).toDF("c", "region"))
      dup.write.parquet(s"$base/dimdup")
      def dupQ() = spark.read.parquet(s"$base/grain")
        .join(spark.read.parquet(s"$base/dimdup"), Seq("c"), "inner")
        .groupBy("region").agg(sum("qty").as("tq"), count(lit(1)).as("n"))
      val rrD = dupQ()
      assert(scanRoots(rrD).exists(_.endsWith("/mv")))
      val directD = withoutRewrite(dupQ().as[(String, Long, Long)].collect().toSet)
      assert(rrD.as[(String, Long, Long)].collect().toSet === directD)
    }
  }

  test("ROLLUP over base JOIN dim routes: the star rollup served from summary cells") {
    withMv { base =>
      val dim = Seq(("c0", "west"), ("c1", "east"), ("c2", "east"))
        .toDF("c", "region")
      dim.write.parquet(s"$base/dimro")
      // the SQL form: the Dataset API's rollup-after-join trips Spark's
      // own DetectAmbiguousSelfJoin dataset-id heuristic (analyzer-side,
      // before any optimizer rule — verified against plain Spark with the
      // rewrite disabled); SQL resolves by name and plans the identical
      // Aggregate-Expand-Join shape the rewrite serves
      spark.read.parquet(s"$base/grain").createOrReplaceTempView("mvspec_grain")
      spark.read.parquet(s"$base/dimro").createOrReplaceTempView("mvspec_dim")
      def query() = spark.sql("""
        SELECT region, k, sum(amount) AS rev, avg(amount) AS avg_a,
               count(1) AS n, grouping_id() AS gid
        FROM mvspec_grain g JOIN mvspec_dim d USING (c)
        GROUP BY ROLLUP (region, k)""")
      val rr = query()
      assert(scanRoots(rr).exists(_.endsWith("/mv")), scanRoots(rr))
      assert(!scanRoots(rr).exists(_.endsWith("/grain")))
      val direct = withoutRewrite(query().collect().toSet)
      // every grain — (region,k), (region), grand total — bit-identical,
      // decimal avg included, grouping_id intact
      assert(rr.collect().toSet === direct)
      assert(rr.count() === (2 * 7 + 2 + 1))
      // rollup touching a base MEASURE column under the join still declines
      val bad = spark.sql("""
        SELECT region, qty, sum(amount) AS s
        FROM mvspec_grain g JOIN mvspec_dim d USING (c)
        GROUP BY ROLLUP (region, qty)""")
      assert(scanRoots(bad).forall(p => !p.endsWith("/mv")), scanRoots(bad))
    }
  }

  test("join rewrite declines: measure-column join keys, dim aggregates, outer dim side") {
    withMv { base =>
      val dim = Seq((2L, "low"), (100L, "high")).toDF("qty", "cls")
      dim.write.parquet(s"$base/dimq")
      val dimQ = spark.read.parquet(s"$base/dimq")
      // join on a MEASURE column: cells cannot replay it — stays on base
      val mj = spark.read.parquet(s"$base/grain").join(dimQ, Seq("qty"), "inner")
        .groupBy("cls").agg(sum("amount").as("s"))
      assert(scanRoots(mj).forall(p => !p.endsWith("/mv")), scanRoots(mj))
      // an aggregate over a DIM column sees per-row duplication — declines
      val dimC = Seq(("c0", 5L), ("c1", 6L), ("c2", 7L)).toDF("c", "wt")
      dimC.write.parquet(s"$base/dimc")
      val da = spark.read.parquet(s"$base/grain")
        .join(spark.read.parquet(s"$base/dimc"), Seq("c"), "inner")
        .groupBy("k").agg(sum("wt").as("s"))
      assert(scanRoots(da).forall(p => !p.endsWith("/mv")), scanRoots(da))
      // RIGHT OUTER keeps unmatched dim rows — count(*) is not derivable
      val dimR = Seq(("c0", "west"), ("cX", "ghost")).toDF("c", "region")
      dimR.write.parquet(s"$base/dimr")
      val ro = spark.read.parquet(s"$base/grain")
        .join(spark.read.parquet(s"$base/dimr"), Seq("c"), "right")
        .groupBy("region").agg(count(lit(1)).as("n"))
      assert(scanRoots(ro).forall(p => !p.endsWith("/mv")), scanRoots(ro))
      assert(ro.filter(col("region") === "ghost").as[(String, Long)].head()._2 === 1L)
    }
  }

  test("inert without the session flag and for unregistered tables") {
    withMv { base =>
      spark.conf.set(MvRewrite.EnabledKey, "false")
      val q = spark.read.parquet(s"$base/grain").groupBy("c").agg(sum("qty").as("t"))
      assert(scanRoots(q).forall(_.endsWith("/grain")))
      spark.conf.set(MvRewrite.EnabledKey, "true")
      // a foreign parquet table with matching column names is untouched
      val other = Scratch.dir("graft_mvother_") + "/t"
      (1L to 10L).map(i => (s"c${i % 2}", i)).toDF("c", "qty").write.parquet(other)
      val fq = spark.read.parquet(other).groupBy("c").agg(sum("qty").as("t"))
      assert(scanRoots(fq).forall(p => !p.endsWith("/mv")))
      assert(fq.select(sum("t")).as[Long].head() === 55L)
    }
  }

  test("a multi-path scan that merely INCLUDES the base never reroutes (r16)") {
    withMv { base =>
      // extra rows live outside the registered base: serving from the
      // summary would silently drop them from the aggregate
      val extra = s"$base/extra"
      (1L to 10L).map(i => (i % 7, "cX", BigDecimal(99).setScale(2), 1L))
        .toDF("k", "c", "amount", "qty").write.parquet(extra)
      val q = spark.read.parquet(s"$base/grain", extra)
        .groupBy("c").agg(sum("qty").as("t"))
      assert(scanRoots(q).forall(p => !p.endsWith("/mv")), scanRoots(q))
      assert(q.filter(col("c") === "cX").select("t").as[Long].head() === 10L)
    }
  }

  test("a RENAMED grouping column still reroutes (r16)") {
    withMv { base =>
      def query() = spark.read.parquet(s"$base/grain")
        .groupBy("c").agg(sum("qty").as("t"))
        .select(col("c").as("cat"), col("t"))
      // .select over the agg puts the Alias in a Project; the in-agg shape:
      val inAgg = spark.read.parquet(s"$base/grain")
        .groupBy(col("c")).agg(col("c").as("cat"), sum("qty").as("t"))
        .select("cat", "t")
      assert(scanRoots(inAgg).forall(_.endsWith("/mv")), scanRoots(inAgg))
      val served = inAgg.as[(String, Long)].collect().toSet
      spark.conf.set(MvRewrite.EnabledKey, "false")
      val direct = try inAgg.as[(String, Long)].collect().toSet
        finally spark.conf.set(MvRewrite.EnabledKey, "true")
      assert(served === direct && served.nonEmpty)
      assert(scanRoots(query()).forall(_.endsWith("/mv")))
    }
  }
}
