package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** Order-insensitive fingerprint of a query result: its row count plus
  * the exact sum of per-row hashes, floats rounded to 8 significant
  * digits first so summation order inside the engine cannot change it. */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // + 0.0 folds -0.0 onto 0.0 before formatting
      format_string("%.8g", c.cast(DoubleType) + lit(0.0))
    case _: ArrayType | _: MapType | _: StructType | _: VariantType =>
      c.cast(StringType)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => norm(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }
}

/** Analytical traffic: a seeded order over a fixed subset of the
  * catalog's read-only entries (the keys of the golden file; the README
  * gives the rule that chose them from measured warm times), each
  * planned fresh and materialised through the noop sink. */
final class OlapCatalog(spark: SparkSession, cfg: Config,
                        golden: Map[String, String]) extends Workload {
  private val fns = SparkEntry.queries
  private val entries = golden.keys.toSeq.sorted
  require(entries.nonEmpty, "empty golden file")
  entries.foreach(e => require(fns.contains(e), s"unknown catalog entry $e"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Register the fixture tables; the checking pass is the warm-up. */
  def setup(dir: File): Unit = Tables.registerAll(spark, cfg.dataDir)

  override def verify(): Seq[(String, Option[String])] = entries.map { e =>
    val got = Fingerprint.of(fns(e)(spark, cfg.dataDir))
    s"golden.$e" -> Option.when(got != golden(e))(s"fingerprint $got, golden ${golden(e)}")
  }

  def round(r: Int): Iterator[Op] =
    new Random(cfg.seed * 1000003L + r).shuffle(entries).iterator.map { e =>
      Op("query", e, span => {
        val t0 = System.nanoTime()
        val df = fns(e)(spark, cfg.dataDir)
        span.attrs("call_ms") = (System.nanoTime() - t0) / 1e6
        noop(df)
      })
    }

  /** One timed pass after the untimed checking pass; a traced run makes
    * two, so that every entry runs both traced and untraced. */
  def minRounds: Int = if (cfg.trace) 2 else 1
  /** The TPC-H entries: interactive SQL analytics, as against the
    * operator-library entries (LLM pipeline, Datalog, bitemporal). */
  def isKey(op: OpSpan): Boolean = op.name.contains("_tpch_")
}
