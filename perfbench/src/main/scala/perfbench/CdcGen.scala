package perfbench

import scala.collection.mutable

import org.apache.spark.sql.types._

/** One DMS change event (FIXTURES.md §1b shape). `dateDay` is the epoch day
  * of the partition column and always equals the day of `dtMicros`.
  */
final case class CdcEvent(op: String, id: String, dtMicros: Long,
    valueCents: Int, dateDay: Int, txn: String) {
  def key: (String, Long) = (id, dtMicros)
}

/** A live row of the CDC table: precombine value and partition day. */
final case class CdcRow(valueCents: Int, dateDay: Int)

object CdcGen {
  /** 2022-05-01, the fixture full load's partition. */
  val Day0: Int = java.time.LocalDate.of(2022, 5, 1).toEpochDay.toInt
  private val DayMicros = 86400L * 1000000L

  val BaseSchema: StructType = StructType(Seq(
    StructField("MEASUREMENT_ID", StringType),
    StructField("MEASUREMENT_DATE_TIME", TimestampType),
    StructField("MEASUREMENT_VALUE", DecimalType(5, 2)),
    StructField("MEASUREMENT_DATE", DateType)))

  val CdcSchema: StructType = StructType(
    StructField("Op", StringType) +: BaseSchema.fields :+
      StructField("transaction_id", StringType))

  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern(
    Inputs.TimestampFormat)
  private def ts(us: Long) = java.time.LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC).format(TsFmt)
  private def date(day: Int) = java.time.LocalDate.ofEpochDay(day.toLong).toString
  private def dec(cents: Int) = java.math.BigDecimal.valueOf(cents.toLong, 2)

  def baseJson(id: String, dt: Long, r: CdcRow): String = Inputs.obj(
    "MEASUREMENT_ID" -> id, "MEASUREMENT_DATE_TIME" -> ts(dt),
    "MEASUREMENT_VALUE" -> dec(r.valueCents),
    "MEASUREMENT_DATE" -> date(r.dateDay))

  def eventJson(e: CdcEvent): String = Inputs.obj(
    "Op" -> e.op, "MEASUREMENT_ID" -> e.id,
    "MEASUREMENT_DATE_TIME" -> ts(e.dtMicros),
    "MEASUREMENT_VALUE" -> dec(e.valueCents),
    "MEASUREMENT_DATE" -> date(e.dateDay), "transaction_id" -> e.txn)

  /** DMS `transaction_id`: 35 digits, zero padded, lexically monotonic. */
  def txn(n: Long): String = f"20220614225126$n%021d"

  /** The paper's golden scenario (FIXTURES.md §1a/§1b): a 100-row full load
    * and a 120-event batch of 100 I / 10 U / 10 D.
    */
  def fixture(): (Seq[((String, Long), CdcRow)], Seq[CdcEvent]) = {
    def dt(day: Int, n: Int) = day * DayMicros + n * 60L * 1000000L
    val base = (100 until 200).map { n =>
      (s"MeasurementID-$n", dt(Day0, n)) -> CdcRow(460 + (n * 37) % 5450, Day0)
    }
    var t = 0L
    def next() = { t += 1; txn(t) }
    val ins = (200 until 300).map { n =>
      CdcEvent("I", s"MeasurementID-$n", dt(Day0 + 1, n), 500 + n, Day0 + 1,
        next())
    }
    val upd = (100 until 110).map { n =>
      CdcEvent("U", s"MeasurementID-$n", dt(Day0, n), 10000, Day0, next())
    }
    val del = (200 until 210).map { n =>
      CdcEvent("D", s"MeasurementID-$n", dt(Day0 + 1, n), 500 + n, Day0 + 1,
        next())
    }
    (base, ins ++ upd ++ del)
  }
}

/** Seeded DMS-shaped change generator.
  *
  * The full load spreads `baseRows` keys over `basePartitions` daily
  * partitions. Each batch mixes inserts (into the newest partition, which
  * rolls to a new day every `rollEvery` batches), updates and deletes, and
  * revisits some keys within the batch (insert-then-update,
  * insert-then-delete, update-then-update) so that the latest event per key
  * must be chosen by `transaction_id`. Row order inside a batch is shuffled.
  *
  * `recentSkew`: updates and deletes pick one of the newest three
  * partitions 80% of the time; otherwise keys are drawn uniformly over all
  * live rows.
  */
final class CdcGen(seed: Long, baseRows: Int, basePartitions: Int,
    batchEvents: Int, rollEvery: Int, recentSkew: Boolean) {
  import CdcGen._

  private val rnd = new java.util.Random(seed)
  private var nextId = 100L
  private var nextTxn = 0L
  private val live = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Long]]
  private val dtOf = mutable.HashMap.empty[Long, Long]
  private var batchNo = 0

  private def newest: Int = live.size - 1
  private def idStr(n: Long) = s"MeasurementID-$n"
  private def value(): Int = 460 + rnd.nextInt(5451)
  private def newKey(part: Int): Long = {
    val n = nextId; nextId += 1
    dtOf(n) = (Day0 + part) * 86400L * 1000000L + rnd.nextInt(86400) * 1000000L
    live(part) += n
    n
  }

  /** The full load as (key -> row). */
  def base(): Seq[((String, Long), CdcRow)] = {
    (0 until basePartitions).foreach(_ => live += mutable.ArrayBuffer.empty)
    (0 until baseRows).map { i =>
      val part = i % basePartitions
      val n = newKey(part)
      (idStr(n), dtOf(n)) -> CdcRow(value(), Day0 + part)
    }
  }

  private def pickPart(): Int = {
    if (recentSkew && rnd.nextDouble() < 0.8) {
      val lo = math.max(0, newest - 2)
      val cands = (lo to newest).filter(live(_).nonEmpty)
      if (cands.nonEmpty) return cands(rnd.nextInt(cands.size))
    }
    val total = live.map(_.size).sum
    var r = rnd.nextInt(math.max(1, total))
    var p = 0
    while (p < newest && r >= live(p).size) { r -= live(p).size; p += 1 }
    p
  }

  /** Removes and returns a random live key of partition `p`. */
  private def takeKey(p: Int): Long = {
    val b = live(p)
    val i = rnd.nextInt(b.size)
    val n = b(i); b(i) = b.last; b.remove(b.size - 1)
    n
  }

  def nextBatch(): Seq[CdcEvent] = {
    batchNo += 1
    if (batchNo % rollEvery == 0) live += mutable.ArrayBuffer.empty
    val out = mutable.ArrayBuffer.empty[CdcEvent]
    def ev(op: String, n: Long, v: Int): Unit = {
      nextTxn += 1
      val day = (dtOf(n) / (86400L * 1000000L)).toInt
      out += CdcEvent(op, idStr(n), dtOf(n), v, day, txn(nextTxn))
    }
    // keys updated in this batch stay out of the live pool until the batch
    // ends, so one batch never deletes a key it is still updating
    val touched = mutable.ArrayBuffer.empty[(Int, Long)]
    while (out.size < batchEvents) {
      val r = rnd.nextDouble()
      if (r < 0.5) {
        val n = newKey(newest)
        ev("I", n, value())
        val f = rnd.nextDouble()
        if (f < 0.08) ev("U", n, value())
        else if (f < 0.12) {
          ev("D", n, value())
          live(newest) -= n
        }
      } else {
        val p = pickPart()
        if (live(p).nonEmpty) {
          val n = takeKey(p)
          if (r < 0.85) {
            ev("U", n, value())
            if (rnd.nextDouble() < 0.1) ev("U", n, value())
            touched += ((p, n))
          } else ev("D", n, value())
        }
      }
    }
    touched.foreach { case (p, n) => live(p) += n }
    // shuffle: event order in the file must not matter, only transaction_id
    val arr = out.toArray
    var i = arr.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr.toSeq
  }
}

/** Replay model of a CDC table: latest event per key by `transaction_id`
  * (string order, as the DMS contract has it), precombine on ties, then
  * Op routing — `D` removes the key, anything else upserts it.
  */
final class CdcModel {
  val rows = mutable.HashMap.empty[(String, Long), CdcRow]

  def load(base: Seq[((String, Long), CdcRow)]): Unit = rows ++= base

  def apply(batch: Seq[CdcEvent]): Unit =
    batch.groupBy(_.key).valuesIterator.foreach { evs =>
      val w = evs.maxBy(e => (e.txn, e.valueCents))
      if (w.op == "D") rows -= w.key
      else rows(w.key) = CdcRow(w.valueCents, w.dateDay)
    }

  def copy(): CdcModel = { val m = new CdcModel; m.rows ++= rows; m }
}
