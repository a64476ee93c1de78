package perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Seeded bronze JSONL in the reference's domains (transaction ids, Zipf
  * customers, merchants, payment methods, statuses, categories), with fixed
  * injected shares of duplicate lines, nulls in required columns,
  * `amount <= 0`, unparseable dates and corrupt lines.
  *
  * A duplicate is an exact copy of an earlier line of the same file, so the
  * engine's arbitrary-row dedup cannot change which content survives and
  * the clean count is exact.
  */
object Bronze {

  final case class Shares(duplicate: Double = 0.02, nullRequired: Double = 0.01,
      nonPositive: Double = 0.01, badDate: Double = 0.01, corrupt: Double = 0.005)

  /** What a generator call planted: lines written, the distinct transaction
    * ids that must reach silver, and the ids given a duplicate line.
    */
  final case class Facts(lines: Long, clean: Long, duplicateIds: Set[String])

  /** Zipf(s) sampler over `n` customers: rank r drawn with weight 1/r^s. */
  final class Customers(n: Int, s: Double, prefix: String = "cust_") {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    val ids: IndexedSeq[String] = (0 until n).map(i => f"$prefix$i%06d")
    def draw(rnd: SplittableRandom): String = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      ids(math.min(i, n - 1))
    }
  }

  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val types = Array("purchase", "refund", "adjustment")
  private val methods = Array("credit_card", "debit_card", "paypal", "bank_transfer")
  private val statuses = Array("completed", "pending", "failed")
  private val categories = Array("electronics", "clothing", "food", "books", "home")

  /** Writes `records` source records (plus duplicate lines) into `files`
    * JSONL files under `dir`, ids from `firstId`, dates uniform over the
    * `days` days from `start`; `customer` picks each record's customer.
    */
  def write(dir: File, fileTag: String, files: Int, records: Int, firstId: Long,
      start: LocalDateTime, days: Int, shares: Shares, rnd: SplittableRandom,
      customer: SplittableRandom => String): Facts = {
    dir.mkdirs()
    var lines = 0L
    var clean = 0L
    val dupIds = mutable.Set[String]()
    val perFile = (records + files - 1) / files
    var id = firstId
    for (f <- 0 until files) {
      val tmp = new File(dir, s"_$fileTag-$f.json.tmp")
      val pw = new PrintWriter(tmp, "UTF-8")
      val written = mutable.ArrayBuffer[(String, String)]()
      try {
        for (_ <- 0 until math.min(perFile, records - f * perFile)) {
          val txn = f"txn_$id%010d"
          id += 1
          val cust = customer(rnd)
          val amount = 10.0 + rnd.nextDouble() * 4990.0
          val ts = start.plusSeconds((rnd.nextDouble() * days * 86400).toLong)
          var txnF = s""""$txn""""
          var custF = s""""$cust""""
          var amountF = String.format(Locale.ROOT, "%.2f", Double.box(amount))
          var dateF = "\"" + ts.format(stamp) + "\""
          val u = rnd.nextDouble()
          var c1 = shares.nullRequired
          var ok = true
          var corrupt = false
          if (u < c1) {
            ok = false
            rnd.nextInt(4) match {
              case 0 => txnF = "null"
              case 1 => custF = "null"
              case 2 => amountF = "null"
              case _ => dateF = "null"
            }
          } else if (u < { c1 += shares.nonPositive; c1 }) {
            ok = false
            amountF = if (rnd.nextBoolean()) "0.0"
              else String.format(Locale.ROOT, "-%.2f", Double.box(amount))
          } else if (u < { c1 += shares.badDate; c1 }) {
            ok = false
            dateF = Seq("\"not-a-date\"", "\"2024/13/45 10:00\"", "\"\"")(rnd.nextInt(3))
          } else if (u < { c1 += shares.corrupt; c1 }) {
            ok = false
            corrupt = true
          }
          val line =
            if (corrupt) s"""{"transaction_id": "$txn", "amount": $amountF, "customer_id": """
            else s"""{"transaction_id":$txnF,"customer_id":$custF,"amount":$amountF,""" +
              s""""transaction_date":$dateF,"transaction_type":"${types(rnd.nextInt(3))}",""" +
              f""""merchant_id":"merchant_${rnd.nextInt(50)}%03d",""" +
              s""""payment_method":"${methods(rnd.nextInt(4))}","currency":"USD",""" +
              s""""status":"${statuses(rnd.nextInt(3))}","category":"${categories(rnd.nextInt(5))}"}"""
          pw.println(line)
          lines += 1
          written += ((txn, line))
          if (ok) clean += 1
          if (written.size > 1 && rnd.nextDouble() < shares.duplicate) {
            val (dupTxn, dupLine) = written(rnd.nextInt(written.size))
            pw.println(dupLine)
            lines += 1
            dupIds += dupTxn
          }
        }
      } finally pw.close()
      if (!tmp.renameTo(new File(dir, s"$fileTag-$f.json")))
        sys.error(s"cannot land $tmp")
    }
    Facts(lines, clean, dupIds.toSet)
  }
}
