package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def naiveMorton(a: Long, b: Long): Long = {
    var out = 0L
    for (i <- 0 until 31) {
      out |= ((a >> i) & 1L) << (2 * i)
      out |= ((b >> i) & 1L) << (2 * i + 1)
    }
    out
  }

  test("morton matches a naive bit loop, masks to 31 bits") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L),
      (0x7FFFFFFFL, 0x7FFFFFFFL), (1L << 40 | 7L, 3L), (-1L, 2L))
    for ((a, b) <- cases)
      assert(BitInterleave.morton(a, b) ==
        naiveMorton(a & 0x7FFFFFFFL, b & 0x7FFFFFFFL), s"($a,$b)")
    // full 31+31 bits stay positive
    assert(BitInterleave.morton(0x7FFFFFFFL, 0x7FFFFFFFL) > 0)
  }

  test("codegen and interpreted paths agree on a dataframe") {
    val df = (0 until 1000).map(i => (i.toLong * 7919, i.toLong * 104729))
      .toDF("a", "b")
    val got = df.select(ZOrder.zorder2(col("a"), col("b")).as("z"))
      .as[Long].collect()
    val want = df.as[(Long, Long)].collect()
      .map { case (a, b) => BitInterleave.morton(a, b) }
    assert(got.toSeq == want.toSeq)
  }

  test("z-order layout prunes 2-D range predicates better than 1-D sort") {
    // 64x64 grid cut into 32 "row groups" per layout. For each 16x16
    // query box, count the chunks whose min/max bounding box intersects
    // it — the row groups a scan with that predicate must read. A 1-D
    // sort leaves the other axis unconstrained (every x-stripe chunk
    // intersects boxes at all y), so z-order must read far fewer.
    val pts = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    def chunksRead(sorted: Seq[(Long, Long)]): Int = {
      val boxes = sorted.grouped(sorted.size / 32).map { c =>
        val xs = c.map(_._1); val ys = c.map(_._2)
        (xs.min, xs.max, ys.min, ys.max)
      }.toSeq
      val hits = for (qx <- 0 until 4; qy <- 0 until 4) yield {
        val (qx0, qx1, qy0, qy1) =
          (qx * 16L, qx * 16L + 15, qy * 16L, qy * 16L + 15)
        boxes.count { case (x0, x1, y0, y1) =>
          x0 <= qx1 && x1 >= qx0 && y0 <= qy1 && y1 >= qy0 }
      }
      hits.sum
    }
    val byX = chunksRead(pts.sortBy(_._1))
    val byZ = chunksRead(pts.sortBy(p => BitInterleave.morton(p._1, p._2)))
    assert(byZ * 2 <= byX,
      s"z-order chunk reads $byZ should be far below 1-D sort's $byX")
  }

  test("CowTable cluster-by on a z-column tightens per-file 2-D stats") {
    import graft.table.CowTable
    // 64x64 grid; write through CowTable with 8 files per layout, once
    // clustered by x only and once by the Morton key. Per-FILE bounding
    // boxes are what parquet row-group pruning sees: the z-order layout
    // must make 2-D range scans touch far fewer files.
    val pts = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong * 64 + y, x.toLong, y.toLong)).toDF("id", "x", "y")
      .withColumn("z", ZOrder.zorder2(col("x"), col("y")))
      // 32 exact file units per layout: x-stripes of width 2 vs aligned
      // 128-code Morton blocks (16x8 rectangles)
      .withColumn("xb", floor(col("x") / 2))
      .withColumn("zb", floor(col("z") / 128))
      .coalesce(1) // one file per partition value
    def fileBoxes(unitCol: String): Seq[(Long, Long, Long, Long)] = {
      val dir = tmpDir(s"zcow-$unitCol")
      val t = new CowTable(spark, dir, Seq("id"),
        partitionCols = Seq(unitCol), clusterCols = Seq("z"))
      t.bulkInsert(pts)
      t.manifest.baseFiles.map { f =>
        val one = spark.read.parquet(s"$dir/$f")
          .agg(min("x"), max("x"), min("y"), max("y")).collect()(0)
        (one.getLong(0), one.getLong(1), one.getLong(2), one.getLong(3))
      }
    }
    def touched(boxes: Seq[(Long, Long, Long, Long)]): Int =
      (for (qx <- 0 until 4; qy <- 0 until 4) yield boxes.count {
        case (x0, x1, y0, y1) =>
          x0 <= qx * 16 + 15 && x1 >= qx * 16 &&
            y0 <= qy * 16 + 15 && y1 >= qy * 16
      }).sum
    val byX = touched(fileBoxes("xb"))
    val byZ = touched(fileBoxes("zb"))
    assert(byZ * 2 <= byX,
      s"z-unit files touched $byZ times vs x-stripe files $byX")
  }

  test("mortonN: n=2 matches morton; codegen, interpreted and SQL agree") {
    // n = 2, 31 bits: bit placement identical to the magic-mask path
    for ((a, b) <- Seq((0L, 0L), (5L, 9L), (12345L, 67890L),
      (0x7FFFFFFFL, 0x7FFFFFFFL)))
      assert(BitInterleave.mortonN(Array(a, b), 31) ==
        BitInterleave.morton(a, b), s"($a,$b)")

    val df = (0 until 500)
      .map(i => (i.toLong % 1021, (i * 7L) % 1021, (i * 13L) % 1021))
      .toDF("a", "b", "c")
    val viaExpr = df.select(ZOrder.zorderN(
      Seq(col("a"), col("b"), col("c")), 10).as("z")).as[Long].collect()
    val want = df.as[(Long, Long, Long)].collect()
      .map { case (a, b, c) =>
        BitInterleave.mortonN(Array(a, b, c), 10) }
    assert(viaExpr.toSeq == want.toSeq, "codegen == scala loop")
    df.createOrReplaceTempView("z3t")
    val viaSql = spark.sql(s"SELECT ${ZOrder.mortonNSql(
      Seq("a", "b", "c"), 10)} AS z FROM z3t").as[Long].collect()
    assert(viaSql.toSeq == want.toSeq, "generated SQL == scala loop")
    // nulls propagate
    val withNull = Seq((Some(1L), Some(2L), Option.empty[Long]))
      .toDF("a", "b", "c")
      .select(ZOrder.zorderN(Seq(col("a"), col("b"), col("c")), 10))
      .collect()
    assert(withNull.head.isNullAt(0), "null input -> null key")
  }

  test("3-axis z-order bounds chunks touched on EVERY axis") {
    // 16x16x16 cube in 32 chunks: for single-axis range queries on each
    // of the three axes, the 3-D curve must beat a 1-D x-sort on y and z
    // (x-sort leaves them unconstrained) and stay competitive on x
    val pts = for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 16)
      yield (x.toLong, y.toLong, z.toLong)
    def chunkBoxes(sorted: Seq[(Long, Long, Long)]) =
      sorted.grouped(sorted.size / 32).map { c =>
        (c.map(_._1).min, c.map(_._1).max, c.map(_._2).min,
          c.map(_._2).max, c.map(_._3).min, c.map(_._3).max)
      }.toSeq
    def touchedOn(boxes: Seq[(Long, Long, Long, Long, Long, Long)],
        axis: Int): Int =
      (for (q <- 0 until 4) yield boxes.count { b =>
        val (lo, hi) = axis match {
          case 0 => (b._1, b._2); case 1 => (b._3, b._4)
          case _ => (b._5, b._6)
        }
        lo <= q * 4 + 3 && hi >= q * 4
      }).sum
    val byX = chunkBoxes(pts.sortBy(_._1))
    val byZ3 = chunkBoxes(pts.sortBy(p =>
      BitInterleave.mortonN(Array(p._1, p._2, p._3), 4)))
    assert(touchedOn(byZ3, 1) * 2 <= touchedOn(byX, 1),
      s"y-axis: z3 ${touchedOn(byZ3, 1)} vs x-sort ${touchedOn(byX, 1)}")
    assert(touchedOn(byZ3, 2) * 2 <= touchedOn(byX, 2),
      s"z-axis: z3 ${touchedOn(byZ3, 2)} vs x-sort ${touchedOn(byX, 2)}")
  }

  test("reclusterZOrder over three columns rewrites and stays exact") {
    val dir = tmpDir("z3-tbl")
    val t = new graft.table.CowTable(spark, dir, keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("x", "y", "w"))
    val rows = (0 until 4096).map { i =>
      (i.toLong, (i % 16).toLong, ((i / 16) % 16).toLong,
        ((i / 256) % 16).toLong)
    }
    t.bulkInsert(rows.toDF("id", "x", "y", "w"), parallelism = 8)
    val before = t.snapshot().as[(Long, Long, Long, Long)].collect().toSet
    assert(t.reclusterZOrder(Seq("x", "y", "w"), parallelism = 8,
      bits = 20))
    assert(t.manifest.operation == "cluster_z")
    assert(t.snapshot().as[(Long, Long, Long, Long)].collect().toSet ==
      before, "rewrite preserves data exactly")
    // every axis gets non-degenerate per-file ranges (prunable on all 3)
    val m = t.manifest
    for (c <- Seq("x", "y", "w")) {
      val spans = m.baseFiles.flatMap(f =>
        m.fileStats.get(f).flatMap(_.colStats.get(c)))
      assert(spans.nonEmpty, s"stats recorded for $c")
    }
  }

  test("mortonSql is the identical computation (checked via Spark SQL)") {
    val df = Seq((123456789L, 987654321L), (0L, 0x7FFFFFFFL))
      .toDF("a", "b")
    df.createOrReplaceTempView("zt")
    val viaSql = spark.sql(
      s"SELECT ${ZOrder.mortonSql("a", "b")} AS z FROM zt")
      .as[Long].collect().toSeq
    val viaExpr = df.select(ZOrder.zorder2(col("a"), col("b")))
      .as[Long].collect().toSeq
    assert(viaSql == viaExpr)
  }
}
