package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.bitemporal.TxLog

/** The write side's shared pieces: the synthetic system clock and the disk
  * probe around a traced op on a table. */
object Tx {
  val ValidFrom: Timestamp = Timestamp.valueOf("2000-01-01 00:00:00")
  private val T0 = Timestamp.valueOf("2020-01-01 00:00:00").getTime
  /** System time of the k-th transaction: one synthetic second apart, so
    * the same seed writes the same logs. */
  def systemTime(k: Int): Timestamp = new Timestamp(T0 + k * 1000L)

  /** Probe for an op on table `dir`: new log files are the tx's bytes, new
    * base files what a compaction rewrote; also the unapplied tail and the
    * live data file count before the op. */
  def diskProbe(dir: File): Probe = new Probe {
    private var seen = Map.empty[String, Long]
    def before(span: OpSpan): Unit = {
      seen = Runner.parquetFiles(dir)
      val log = new TxLog(dir.getPath)
      span.attrs("tail_txs") =
        log.txFilesAfter(log.baseWatermark().getOrElse(-1L)).size.toDouble
      span.attrs("live_files") =
        seen.keys.count(p => p.contains("/log/") || p.contains("/base/")).toDouble
    }
    def after(span: OpSpan): Unit = {
      val added = Runner.parquetFiles(dir) -- seen.keys
      def bytes(part: String) = added.filter(_._1.contains(part)).values.sum.toDouble
      span.attrs("tx_bytes") = bytes("/log/")
      span.attrs("base_bytes") = bytes("/base/")
    }
  }

  /** Rows as comparable strings, sorted: decimals without trailing zeros,
    * doubles at 8 significant digits. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: Double => f"$d%.8g"
    case x => x.toString
  }.mkString("|")).sorted
}
