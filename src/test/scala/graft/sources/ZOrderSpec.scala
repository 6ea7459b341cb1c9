package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Morton-key mechanics + the data-skipping property the layout exists for. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bucket bits: col j's bit i lands at i*n + j") {
    // b0=1 (bit0 -> pos0), b1=2 (bit1 -> pos 1*2+1=3): z = 1 + 8 = 9
    val z = Seq((1L, 2L)).toDF("a", "b")
      .select(ZOrder.zValue(Seq(col("a"), col("b")), bits = 2).as("z"))
      .as[Long].head()
    assert(z === 9L)
  }

  test("rankBucket counts cut points at or below the value") {
    val cuts = Array(10.0, 20.0, 30.0)
    val out = Seq(5.0, 10.0, 25.0, 35.0).toDF("v")
      .select(ZOrder.rankBucket(col("v"), cuts).as("b")).as[Long].collect()
    assert(out.toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("z-ordered write preserves the exact row multiset") {
    val df = (1 to 5000).map(i => (i.toLong % 37, (i * 7919L) % 1000, s"p$i"))
      .toDF("x", "y", "payload")
    val out = Scratch.dir("graft_zorder_rt_")
    ZOrder.materializeZordered(df, out, Seq("x", "y"), bits = 5, numFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.count() === 5000)
    assert(back.exceptAll(df).count() === 0 && df.exceptAll(back).count() === 0)
  }

  /** Files whose (min,max) stats overlap `[lo,hi]` on `c` — the file-level
    * data-skipping decision a 100 TB scan layer makes from footer stats. */
  private def overlapping(path: String, c: String, lo: Double, hi: Double): Int =
    spark.read.parquet(path).inputFiles.count { f =>
      val r = spark.read.parquet(f)
        .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
      r.getDouble(0) <= hi && r.getDouble(1) >= lo
    }

  test("z-order skips files on BOTH dimensions; single-sort only on its own") {
    val rnd = new scala.util.Random(23)
    val df = (1 to 50000).map(_ => (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .toDF("x", "y")
    val base = Scratch.dir("graft_zorder_skip_")

    // layout A: classic single-column clustering (range-partitioned + sorted on x)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$base/by_x")
    // layout B: z-ordered on (x, y)
    ZOrder.materializeZordered(df, s"$base/z", Seq("x", "y"), bits = 6, numFiles = 16)

    // a y-only slab covering ~5% of the y domain
    val (lo, hi) = (100.0, 150.0)
    val sortedY = overlapping(s"$base/by_x", "y", lo, hi)
    val zY = overlapping(s"$base/z", "y", lo, hi)
    val zX = overlapping(s"$base/z", "x", lo, hi)

    // x-sorted files each span the full y domain: nothing skippable
    assert(sortedY >= 15, s"x-sorted layout unexpectedly pruned y: $sortedY/16")
    // the Morton layout tiles the (x, y) square, so a narrow slab on EITHER
    // dimension intersects only the tile row/column containing it
    assert(zY <= 8, s"z-order failed to prune on y: $zY/16 files overlap")
    assert(zX <= 8, s"z-order failed to prune on x: $zX/16 files overlap")
  }
}
