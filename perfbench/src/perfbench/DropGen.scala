package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.immutable.HashMap
import scala.collection.mutable

/** One silver row image (the ten silver columns). Times are epoch
  * microseconds, dates epoch days and prices whole cents, so the
  * expected state compares exactly against what the lake returns. */
final case class OrderRow(
    tsMicros: Long,
    invoiceid: Long,
    itemid: Long,
    category: String,
    priceCents: Long,
    quantity: Int,
    orderdate: Int,
    state: String,
    shipping: String,
    referral: String)

/** One CDC op: `op` is 'I', 'U' or 'D'; a D row carries the image it
  * deletes, as a DMS-style feed does. */
final case class CdcOp(op: Char, row: OrderRow)

/** A generated drop, staged outside `raw/` until it is landed. */
final case class Drop(ops: IndexedSeq[CdcOp], file: Path, bytes: Long) {
  def rows: Int = ops.size
  def upserts: Int = ops.count(_.op != 'D')
}

/** Seeded, offline generator of tab-separated CDC drops in the raw
  * schema of the reference pipeline (`Op` … `referral`, with a header).
  *
  * Shape (fixed here; assumed, not derived from real traffic:
  * perfbench/README.md says how each parameter moves the metrics):
  *   - the bulk drop inserts `BulkKeys` keys spread evenly over the 50
  *     `destinationstate` partitions;
  *   - each CDC drop holds `DropRows` rows, one op per key, in
  *     `StatesPerDrop` partitions, mixed I : U : D = 20 : 65 : 15;
  *   - U and D keys are skewed toward recently inserted keys: the key at
  *     recency rank floor(n * u^3) of a partition's n live keys, u
  *     uniform in [0, 1), so about 46% of picks fall in the newest 10%.
  *
  * Every file gets a modification time one second after the previous
  * one, so landing by rename keeps delivery mtime-monotonic.
  */
final class DropGen(seed: Long) {
  import DropGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private var nextKey = 1L
  private var nextTsMicros = BaseTsMicros
  /** Live keys per partition, oldest first. */
  private val liveByState =
    States.map(s => s -> mutable.ArrayBuffer.empty[Long]).toMap
  private var current = HashMap.empty[Long, OrderRow]

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  private def freshImage(key: Long, state: String): OrderRow = {
    nextTsMicros += 1 + rnd.nextInt(1000)
    OrderRow(nextTsMicros, key, 1L + rnd.nextInt(100), pick(Categories),
      100L + rnd.nextInt(9900), 1 + rnd.nextInt(10),
      OrderDayFirst + rnd.nextInt(365), state, pick(Shipping),
      pick(Referrals))
  }

  private def insert(state: String): CdcOp = {
    val key = nextKey
    nextKey += 1
    val r = freshImage(key, state)
    liveByState(state) += key
    current = current.updated(key, r)
    CdcOp('I', r)
  }

  /** A recency-skewed live key of `state` not yet used in this drop. */
  private def recentKey(state: String, used: mutable.Set[Long]): Option[Long] = {
    val live = liveByState(state)
    var tries = 0
    while (tries < 32 && live.nonEmpty) {
      val u = rnd.nextDouble()
      val rank = math.min(live.size - 1, (live.size * u * u * u).toInt)
      val k = live(live.size - 1 - rank)
      if (!used(k)) return Some(k)
      tries += 1
    }
    None
  }

  /** The expected silver state: latest image per live key. */
  def expected: HashMap[Long, OrderRow] = current

  def bulk(dir: Path, mtimeMs: Long): Drop = {
    val ops = (0 until BulkKeys).map(i => insert(States(i % States.size)))
    write(dir, 0, "bulk", ops, mtimeMs)
  }

  /** The next CDC drop; the expected state advances to include it. */
  def next(dir: Path, index: Int, mtimeMs: Long): Drop = {
    val states = mutable.LinkedHashSet.empty[String]
    while (states.size < StatesPerDrop) states += pick(States)
    val stateSeq = states.toIndexedSeq
    val used = mutable.Set.empty[Long]
    val ops = mutable.ArrayBuffer.empty[CdcOp]
    while (ops.size < DropRows) {
      val state = stateSeq(ops.size % stateSeq.size)
      val p = rnd.nextInt(100)
      val op =
        if (p < 20) None
        else recentKey(state, used).map { k =>
          used += k
          if (p < 85) {
            val r = freshImage(k, state)
            current = current.updated(k, r)
            CdcOp('U', r)
          } else {
            val r = current(k)
            val live = liveByState(state)
            var i = live.size - 1 // recent keys sit at the end
            while (live(i) != k) i -= 1
            live.remove(i)
            current = current - k
            nextTsMicros += 1
            CdcOp('D', r.copy(tsMicros = nextTsMicros))
          }
        }
      ops += op.getOrElse { val i = insert(state); used += i.row.invoiceid; i }
    }
    write(dir, index, "cdc", ops.toIndexedSeq, mtimeMs)
  }

  private def write(dir: Path, index: Int, kind: String,
      ops: IndexedSeq[CdcOp], mtimeMs: Long): Drop = {
    Files.createDirectories(dir)
    val f = dir.resolve(f"$kind-$index%05d.csv")
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(Header)
      w.write('\n')
      ops.foreach { o =>
        val r = o.row
        w.write(s"${o.op}\t${formatTs(r.tsMicros)}\t${r.invoiceid}\t" +
          s"${r.itemid}\t${r.category}\t${formatCents(r.priceCents)}\t" +
          s"${r.quantity}\t${java.time.LocalDate.ofEpochDay(r.orderdate)}\t" +
          s"${r.state}\t${r.shipping}\t${r.referral}\n")
      }
    } finally w.close()
    f.toFile.setLastModified(mtimeMs)
    Drop(ops, f, Files.size(f))
  }
}

object DropGen {
  val BulkKeys = 15000
  val DropRows = 400
  val StatesPerDrop = 3

  val Header = Seq("Op", "replicadmstimestamp", "invoiceid", "itemid",
    "category", "price", "quantity", "orderdate", "destinationstate",
    "shippingtype", "referral").mkString("\t")

  val States: IndexedSeq[String] = ("AK AL AR AZ CA CO CT DE FL GA HI IA " +
    "ID IL IN KS KY LA MA MD ME MI MN MO MS MT NC ND NE NH NJ NM NV NY " +
    "OH OK OR PA RI SC SD TN TX UT VA VT WA WI WV WY").split(' ').toIndexedSeq
  val Categories: IndexedSeq[String] = ("degree market language garden " +
    "travel kitchen music sport office health beauty toys books tools " +
    "auto pets baby grocery outdoor phone").split(' ').toIndexedSeq
  val Shipping: IndexedSeq[String] =
    IndexedSeq("Standard", "2-Day", "3-Day", "Overnight")
  val Referrals: IndexedSeq[String] =
    IndexedSeq("book", "search", "email", "friend", "ad", "social")

  /** 2024-02-16 00:00:00 UTC, the reference fixture's CDC day. */
  val BaseTsMicros: Long = 1708041600L * 1000000L
  val OrderDayFirst: Int = java.time.LocalDate.of(2023, 1, 1).toEpochDay.toInt

  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def formatTs(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(micros / 1000000L,
      ((micros % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(TsFmt)

  def formatCents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
}
