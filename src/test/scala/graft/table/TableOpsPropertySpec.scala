package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Model-based property test over the FULL table-service surface: a random
  * sequence of upsert / delete / mergeInto / overwrite / recluster /
  * compact / restoreTo operations must leave the table equal to a naive
  * in-memory model replay after EVERY step — including the services that
  * must not change observable state (recluster, compact) and restore,
  * whose model is a snapshot of the model history. Identity is the
  * non-global (id, part) pair; `part` is independent of `id`, so the same
  * record key legitimately lives in several partitions.
  */
class TableOpsPropertySpec extends SparkSpec {
  import spark.implicits._

  private type K = (String, String) // (id, part)
  private type Model = Map[K, Double]

  private def df(rows: Seq[(String, String, Double)]) =
    rows.toDF("id", "part", "v")

  // batch dedup mirror of mergeCommit's precombine (greatest v wins)
  private def dedup(rows: Seq[(String, String, Double)]): Model =
    rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
      k -> rs.map(_._3).max
    }

  private def drive(t: CowTable, seed: Int, nOps: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    def randRows(n: Int, vMin: Int = 0): Seq[(String, String, Double)] =
      Seq.fill(n)((s"k${rnd.nextInt(15)}", s"p${rnd.nextInt(3)}",
        (rnd.nextInt(1000) + vMin).toDouble))

    var model: Model = Map.empty
    var history = Map.empty[Long, Model]
    def record(): Unit = { history += t.manifest.version -> model }

    // Change-feed invariant: applying the (s, e] feed to the state at s
    // reproduces the state at e. Holds for every CDC op (upsert, delete,
    // conditional merge) and for services (their rewrites carry old
    // stamps, so the feed stays change-only); overwrite and restore are
    // whole-table listing swaps, not row changes, and reset the anchor.
    def applyFeed(base: Model, s: Long, e: Long): Model =
      t.changeFeed(s, e).select(col("id"), col("part"), col("v"),
          col(CowTable.ChangeTypeCol))
        .as[(String, String, Option[Double], String)].collect()
        .foldLeft(base) { case (m, (id, p, v, op)) =>
          if (op == "D") m - ((id, p)) else m + ((id, p) -> v.get)
        }

    t.bulkInsert(df(dedup(randRows(20)).toSeq.map {
      case ((i, p), v) => (i, p, v) }))
    model = dedup(randRows(0)) // rebuilt below from the actual insert
    model = t.snapshot().select("id", "part", "v")
      .as[(String, String, Double)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    record()
    var feedAnchor: Option[(Long, Model)] = Some(t.manifest.version -> model)
    var prevState: Option[(Long, Model)] = Some(t.manifest.version -> model)

    (0 until nOps).foreach { step =>
      val op = rnd.nextInt(100)
      if (op < 40) { // keyed upsert
        val rows = randRows(1 + rnd.nextInt(8))
        t.upsert(df(rows))
        model = model ++ dedup(rows)
      } else if (op < 55) { // keyed delete (some keys absent — no-ops)
        val rows = randRows(1 + rnd.nextInt(5))
        t.delete(df(rows))
        model = model -- rows.map(r => (r._1, r._2))
      } else if (op < 70) { // conditional merge: delete if v<0, update if
        // greater, insert unmatched — batch precombines by max v first
        val rows = randRows(1 + rnd.nextInt(6), vMin = -200)
        t.mergeInto(df(rows),
          whenMatchedDelete = col("i.v") < 0,
          whenMatchedUpdate = col("i.v") > col("c.v"))
        dedup(rows).foreach { case (k, v) =>
          model.get(k) match {
            case Some(_) if v < 0 => model -= k
            case Some(cv) if v > cv => model += k -> v
            case Some(_) => ()
            case None => model += k -> v // unconditional unmatched insert
          }
        }
      } else if (op < 75) { // full replace
        val rows = dedup(randRows(5 + rnd.nextInt(10))).toSeq
          .map { case ((i, p), v) => (i, p, v) }
        t.overwrite(df(rows))
        model = dedup(rows)
      } else if (op < 82) { // layout services: state must NOT change
        if (rnd.nextBoolean()) t.recluster(Seq("id"))
        else t.compact(maxFilesPerUnit = 2)
      } else if (op < 87) { // time-based retention: state must NOT change
        // expire up to the commit 6 below head, but never the current
        // feed anchor (the feed invariant reads from it next step)
        val floor = math.min(
          feedAnchor.map(_._1).getOrElse(Long.MaxValue),
          t.manifest.version - 6)
        scala.util.Try(t.manifestAt(floor)).foreach { mf =>
          if (mf.commitTimeMs > 0) t.expireCommits(mf.commitTimeMs)
        }
      } else if (op < 92) { // metadata-only DDL: state must NOT change
        // (reads select the original columns; the added one null-fills)
        t.alterSchema(addCols = Seq(org.apache.spark.sql.types
          .StructField(s"x$step", org.apache.spark.sql.types.IntegerType)))
      } else { // restore to a recent RETAINED version (expiry/cleaner may
        // have dropped part of the window)
        val recent = history.keys.toSeq.sorted
          .filter(_ >= t.manifest.version - 6)
          .filter(v => scala.util.Try(t.manifestAt(v)).isSuccess)
          .takeRight(4)
        if (recent.nonEmpty) {
          val target = recent(rnd.nextInt(recent.size))
          t.restoreTo(target)
          model = history(target)
        }
      }
      record()
      val got = t.snapshot().select("id", "part", "v")
        .as[(String, String, Double)].collect()
        .map(r => ((r._1, r._2), r._3)).toMap
      assert(got == model,
        s"seed=$seed step=$step op=$op diverged:\n got  ${got.toSeq.sorted}" +
          s"\n want ${model.toSeq.sorted}")
      val curV = t.manifest.version
      // feed-safe ops: CDC changes, layout services, retention expiry and
      // schema DDL (the latter three must produce an EMPTY feed window);
      // overwrite and restore swap listings wholesale and reset the anchor
      if (op < 70 || (op >= 75 && op < 92)) feedAnchor.foreach {
        case (pv, pm) =>
          val applied = applyFeed(pm, pv, curV)
          assert(applied == model,
            s"seed=$seed step=$step op=$op feed ($pv, $curV] diverged:\n" +
              s" got  ${applied.toSeq.sorted}\n want ${model.toSeq.sorted}")
      }
      // Diff invariant: the A/R/C classification between the previous and
      // current version, applied to the previous model, reproduces the
      // current model — for EVERY op class, including overwrite/restore
      // (which reset the feed anchor) and services (whose diff must be
      // empty). Skipped only when retention already dropped the previous
      // manifest.
      prevState.foreach { case (pv, pm) =>
        if (scala.util.Try(t.manifestAt(pv)).isSuccess) {
          val d = t.diff(pv, curV)
          val rem = d.filter(col(CowTable.ChangeTypeCol).isin("R", "C"))
            .select("id", "part").as[(String, String)].collect().toSet
          val add = d.filter(col(CowTable.ChangeTypeCol).isin("A", "C"))
            .select("id", "part", "v")
            .as[(String, String, Double)].collect()
          val applied = (pm -- rem) ++ add.map(r => ((r._1, r._2), r._3))
          assert(applied == model,
            s"seed=$seed step=$step op=$op diff($pv, $curV) diverged:\n" +
              s" got  ${applied.toSeq.sorted}\n want ${model.toSeq.sorted}")
        }
      }
      prevState = Some(curV -> model)
      feedAnchor = Some(curV -> model)
    }

    // a zero-copy clone of the final state equals the model too
    val clone = t.cloneTo(t.basePath + "-clone")
    val cloned = clone.snapshot().select("id", "part", "v")
      .as[(String, String, Double)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    assert(cloned == model, s"seed=$seed clone diverged")
  }

  test("COW: random op sequences equal the model replay at every step") {
    drive(new CowTable(spark, tmpDir("props-cow"), keyCols = Seq("id"),
      partitionCols = Seq("part"), precombineField = "v",
      fileIndex = true, trackCommitVersions = true),
      seed = 11, nOps = 22)
  }

  test("MOR: random op sequences equal the model replay at every step") {
    drive(new MorTable(spark, tmpDir("props-mor"), keyCols = Seq("id"),
      partitionCols = Seq("part"), precombineField = "v",
      compactEvery = 5), seed = 12, nOps = 18)
  }

  test("COW sharded: random op sequences on sharded manifests equal the " +
      "model replay at every step") {
    // every commit in the sequence lands on the SHARDED manifest format —
    // change feed, diff, clone and services replayed against the model
    val old = ManifestCodec.ShardFileThreshold
    ManifestCodec.ShardFileThreshold = 3
    try drive(new CowTable(spark, tmpDir("props-cow-shard"),
      keyCols = Seq("id"), partitionCols = Seq("part"),
      precombineField = "v", fileIndex = true,
      trackCommitVersions = true), seed = 13, nOps = 22)
    finally ManifestCodec.ShardFileThreshold = old
  }
}
