package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftTable, Tables}
import graft.server.{GraftMatviews, GraftMvNav, GraftServer, GraftSql}

/** Incrementally maintained views served beside a write stream, over the
  * sf0.01 fixture's orders (fact) and customers (dim). Each cycle
  * creates one view through the SQL front door, commits two small
  * transactions, refreshes the view, serves a navigable dashboard GROUP BY
  * and a point read of the fact table, then drops the view. The fact
  * table compacts itself (`autoCompactEvery`), so compaction stalls land
  * in the write path, and each round ends with a vacuum of its log. */
final class MvMaintain(spark: SparkSession, cfg: Config) extends Workload {
  import Tx._
  import spark.implicits._

  val Fact = "mvm_ord"
  val Dim = "mvm_cust"
  val Price = DecimalType(12, 2)
  /** The engine's own compaction policy on the fact table: compact once
    * the unapplied tail holds this many transactions. */
  val AutoCompactEvery = 4
  private val FactCols = Seq("grp", "od", "cust", "code", "ck", "price")
  private val validAt = "2030-01-01 00:00:00"
  /** Customer keys of the sf0.01 fixture run 1..1500. */
  private val Customers = 1500

  /** A view shape: its DDL, the dashboard query served through
    * navigation, the same answer computed with the DataFrame API over the
    * tables' snapshots at the view's valid time, and the two transactions
    * its cycle commits. */
  private final case class Shape(tag: String, withOpts: String, select: String,
                                 serve: String,
                                 expected: (DataFrame, DataFrame) => DataFrame,
                                 txs: (String, String))

  // shapes A and C serve the view's own defining query
  private val kpis = s"SELECT grp, COUNT(*) AS n, SUM(price) AS s, " +
    s"MIN(price) AS lo, MAX(price) AS hi FROM $Fact GROUP BY grp"
  private val star = s"SELECT region, COUNT(*) AS n, COUNT(DISTINCT code) AS ndc, " +
    s"SUM(DISTINCT code) AS sdc, SUM(price) AS total FROM $Fact " +
    s"LEFT JOIN $Dim ON ck = $Dim._id WHERE price > 1000 GROUP BY region"

  private val shapes = Seq(
    Shape("A", "buckets = 16, rewrite = 'trusted'", kpis, kpis,
      (f, _) => f.groupBy($"grp").agg(count(lit(1)), sum($"price"),
        min($"price"), max($"price")),
      ("put", "dml")),
    // the DISTINCT-rollup shape: served for one priority from the
    // (priority × month) state plus its distinct-pair aux state
    Shape("B", "buckets = 16, bucket_key = 'grp', rewrite = 'trusted'",
      s"SELECT grp, date_trunc('month', od) AS m, COUNT(*) AS n, " +
        s"SUM(price) AS s, COUNT(DISTINCT cust) AS dc FROM $Fact " +
        "GROUP BY grp, date_trunc('month', od)",
      s"SELECT date_trunc('month', od) AS m, COUNT(*) AS n, " +
        s"SUM(price) AS total, COUNT(DISTINCT cust) AS ncust FROM $Fact " +
        "WHERE grp = '1-URGENT' GROUP BY date_trunc('month', od)",
      (f, _) => f.filter($"grp" === "1-URGENT")
        .groupBy(date_trunc("month", $"od")).agg(count(lit(1)), sum($"price"),
          countDistinct($"cust")),
      ("delete", "dmltx")),
    // the LEFT-star DISTINCT shape: dangling and NULL foreign keys land
    // in the NULL region
    Shape("C", "buckets = 16, rewrite = 'trusted'", star, star,
      (f, d) => f.filter($"price" > 1000)
        .join(d, f("ck") === d("_id"), "left").groupBy(d("region"))
        .agg(count(lit(1)), countDistinct(f("code")), sum_distinct(f("code")),
          sum(f("price"))),
      ("dim", "put")))

  /** The harness's model of one fact document. */
  private final case class Doc(grp: String, od: Timestamp, cust: Long,
                               code: Long, ck: Option[Long],
                               price: java.math.BigDecimal)

  private var dir: File = _
  private var fact: GraftTable = _
  private var dim: GraftTable = _
  private var txCount = 0
  private val model = mutable.HashMap.empty[Long, Doc]
  private val allIds = ArrayBuffer.empty[Long]
  private val recent = ArrayBuffer.empty[Long]
  private var nextId = 0L
  private val rng = new Random(cfg.seed)

  private def factDir = new File(dir, "fact")

  private def orders: DataFrame =
    Tables.load(spark, cfg.smallDataDir, "orders").select(
      $"o_orderkey".cast("long").as("id"),
      $"o_orderpriority".as("g"),
      $"o_orderdate".cast("timestamp").as("odv"),
      $"o_custkey".cast("long").as("c"),
      ($"o_orderkey" % 5).cast("long").as("cd"),
      when($"o_orderkey" % 17 === 0, lit(null).cast("long"))
        .when($"o_orderkey" % 13 === 0, $"o_custkey" + 10000000L)
        .otherwise($"o_custkey").cast("long").as("k"),
      $"o_totalprice".cast(Price).as("p"))

  private def factPayload = Seq("grp" -> $"g", "od" -> $"odv", "cust" -> $"c",
    "code" -> $"cd", "ck" -> $"k", "price" -> $"p")

  private def openFact(): GraftTable =
    new GraftTable(spark, factDir.getPath, FactCols,
      autoCompactEvery = AutoCompactEvery, clusterBy = Seq("ck"))

  /** Fact (orders, clustered by its foreign key) and dim (customer), each
    * seeded in one transaction and compacted once. */
  def setup(d: File): Unit = {
    dir = d
    GraftMatviews.reset()
    fact = openFact()
    dim = new GraftTable(spark, new File(d, "dim").getPath, Seq("region"))
    GraftServer.register(Fact, fact)
    GraftServer.register(Dim, dim)
    fact.put(orders, $"id", lit(ValidFrom), None, factPayload, systemTime(0))
    dim.put(Tables.load(spark, cfg.smallDataDir, "customer").select(
        $"c_custkey".cast("long").as("id"), $"c_nationkey".cast("string").as("rg")),
      $"id", lit(ValidFrom), None, Seq("region" -> $"rg"), systemTime(1))
    fact.compact()
    dim.compact()
    txCount = 2
  }

  /** Load the model of what set-up wrote (untimed). */
  override def verify(): Seq[(String, Option[String])] = {
    orders.collect().foreach { r =>
      model(r.getLong(0)) = Doc(r.getString(1), r.getTimestamp(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getDecimal(6))
    }
    allIds ++= model.keys.toSeq.sorted
    nextId = allIds.max + 1
    Nil
  }

  // ---- the model: updated in each op's untimed check ----

  private def commit(): Timestamp = { val st = systemTime(txCount); txCount += 1; st }

  private def touched(id: Long): Unit = {
    recent += id
    if (recent.size > 64) recent.remove(0)
  }

  private def liveIds(n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val id = allIds(rng.nextInt(allIds.size))
      if (model.contains(id)) out += id
    }
    out.toSeq
  }

  /** Ids for point reads: mostly recently written ones, some anywhere. */
  private def readId(): Long =
    if (recent.nonEmpty && rng.nextDouble() < 0.75) recent(rng.nextInt(recent.size))
    else allIds(rng.nextInt(allIds.size))

  private def randomDoc(): Doc = Doc(s"${1 + rng.nextInt(5)}-PRIO",
    new Timestamp(Timestamp.valueOf("1996-01-01 00:00:00").getTime +
      rng.nextInt(2000) * 86400000L),
    1L + rng.nextInt(Customers), rng.nextInt(5).toLong,
    if (rng.nextInt(10) == 0) None else Some(1L + rng.nextInt(Customers)),
    java.math.BigDecimal.valueOf(90000L + rng.nextInt(50000000), 2))

  // ---- transactions ----

  /** Re-write four live orders and add four new ones. */
  private def putOp(): Op = {
    val rows = liveIds(4).map(_ -> randomDoc()) ++
      (0 until 4).map { _ => nextId += 1; nextId -> randomDoc() }
    Op("tx.put", "put", _ => {
      val df = rows.map { case (id, d) => (id, d.grp, d.od, d.cust, d.code, d.ck, d.price) }
        .toDF("id", "g", "odv", "c", "cd", "k", "p").withColumn("p", $"p".cast(Price))
      fact.put(df, $"id", lit(ValidFrom), None, factPayload, commit())
    }, () => {
      rows.foreach { case (id, d) =>
        if (!model.contains(id)) allIds += id
        model(id) = d; touched(id)
      }
      None
    }, diskProbe(factDir))
  }

  private def deleteOp(): Op = {
    val ids = liveIds(4)
    Op("tx.delete", "delete", _ =>
      fact.delete(ids.toDF("id"), $"id", lit(ValidFrom), None,
        FactCols.zip(Seq(StringType, TimestampType, LongType, LongType, LongType, Price))
          .map { case (c, t) => c -> lit(null).cast(t) }, commit()),
      () => { ids.foreach { id => model.remove(id); touched(id) }; None },
      diskProbe(factDir))
  }

  private def dmlOp(): Op = {
    val ids = liveIds(4)
    Op("tx.dml", "dml", _ =>
      // the explicit cast keeps the column's type: a widened DECIMAL(13,2)
      // in the log makes navigation refuse the view (schema gate)
      fact.dml(Fact, s"UPDATE $Fact SET price = CAST(price + 1 AS DECIMAL(12, 2)) " +
        s"WHERE _id IN (${ids.mkString(", ")})", commit()),
      () => {
        ids.foreach { id =>
          model(id) = model(id).copy(price = model(id).price.add(java.math.BigDecimal.ONE))
          touched(id)
        }
        None
      }, diskProbe(factDir))
  }

  private def dmlTxOp(): Op = {
    val Seq(a, b) = liveIds(2)
    Op("tx.dmltx", "dmltx", _ =>
      fact.dmlTx(Fact, Seq(
        s"UPDATE $Fact SET code = 9 WHERE _id = $a",
        s"DELETE FROM $Fact WHERE _id = $b"), commit()),
      () => {
        model(a) = model(a).copy(code = 9); model.remove(b)
        touched(a); touched(b)
        None
      }, diskProbe(factDir))
  }

  /** Move a few customers to another region. */
  private def dimOp(): Op = {
    val rows = (0 until 4).map(_ => (1L + rng.nextInt(Customers), rng.nextInt(25).toString))
    Op("tx.dim", "dim", _ =>
      dim.put(rows.toDF("id", "rg"), $"id", lit(ValidFrom), None,
        Seq("region" -> $"rg"), commit()),
      probe = diskProbe(new File(dir, "dim")))
  }

  private def txOp(kind: String): Op = kind match {
    case "put" => putOp()
    case "delete" => deleteOp()
    case "dml" => dmlOp()
    case "dmltx" => dmlTxOp()
    case "dim" => dimOp()
  }

  // ---- reads ----

  private def checkEntity(id: Long, got: Option[Row]): Option[String] = {
    val ok = (got, model.get(id)) match {
      case (None, None) => true
      case (Some(r), Some(d)) =>
        r.getAs[String]("grp") == d.grp && r.getAs[Timestamp]("od") == d.od &&
          r.getAs[Long]("cust") == d.cust && r.getAs[Long]("code") == d.code &&
          Option(r.getAs[java.lang.Long]("ck")).map(_.longValue) == d.ck &&
          r.getAs[java.math.BigDecimal]("price").compareTo(d.price) == 0
      case _ => false
    }
    Option.when(!ok)(s"entity($id) = $got, model ${model.get(id)}")
  }

  /** `entity()` on the long-lived handle, or on a freshly opened one whose
    * footer-metadata cache is cold (the restart path). */
  private def readOp(reopen: Boolean): Op = {
    val id = readId()
    var got: Option[Row] = None
    Op(if (reopen) "read.reopen" else "read.point", if (reopen) "reopen" else "point",
      _ => got = (if (reopen) openFact() else fact).entity(id),
      () => checkEntity(id, got), diskProbe(factDir))
  }

  private def serveOp(s: Shape): Op = {
    var got: Seq[Row] = Nil
    val navProbe = new Probe {
      def before(span: OpSpan): Unit = ()
      // the navigation decision, timed on its own after the serve
      def after(span: OpSpan): Unit = {
        val t0 = System.nanoTime()
        GraftMvNav.rewrite(spark, s.serve)
        span.attrs("nav_decide_ms") = (System.nanoTime() - t0) / 1e6
      }
    }
    Op(s"mv.serve.${s.tag}", "serve", span => {
      val t0 = System.nanoTime()
      val df =
        try GraftSql.sql(spark, s.serve)
        catch {
          case e: Exception =>
            // name the navigation gate that refused, for the failure report
            val why = GraftSql.sql(spark, s"EXPLAIN REWRITE ${s.serve}").collect()
            throw new IllegalStateException(
              s"${e.getMessage.take(120)}; navigation: ${why.mkString(" ").take(600)}", e)
        }
      span.attrs("sql_front_ms") = (System.nanoTime() - t0) / 1e6
      got = df.collect().toSeq
    }, () => {
      val now = new Timestamp(System.currentTimeMillis())
      val va = Timestamp.valueOf(validAt)
      val want = s.expected(fact.asOf(va, now), dim.asOf(va, now)).collect().toSeq
      val (g, w) = (canon(got), canon(want))
      Option.when(g != w)(s"served ${g.take(3)}…(${g.size}), expected ${w.take(3)}…(${w.size})")
    }, navProbe)
  }

  // ---- views ----

  private def ddl(text: String): Unit = GraftSql.sql(spark, text).collect(): Unit

  private def stateProbe: Probe = new Probe {
    def before(span: OpSpan): Unit = ()
    def after(span: OpSpan): Unit =
      span.attrs("state_bytes") = stateBytes(dir).toDouble
  }
  private def stateBytes(f: File): Long =
    if (f.isDirectory && f.getName.contains("matview")) Runner.dirBytes(f)
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(stateBytes).sum
    else 0L

  /** One cycle per shape, in order A, B, C: create, the cycle's two
    * transactions, REFRESH, the navigated serve, a point read of the fact
    * table (on a reopened handle in cycle B, the long-lived one otherwise),
    * DROP; then one vacuum of the fact log. 22 ops. Ops are built lazily, so each draws its ids
    * from the model as the previous op left it. */
  def round(r: Int): Iterator[Op] = {
    def lazily(ops: (() => Op)*): Iterator[Op] = ops.iterator.map(_())
    shapes.iterator.flatMap { s =>
      val v = s"mvm_${s.tag.toLowerCase}"
      lazily(
        () => Op(s"mv.create.${s.tag}", "create", _ => ddl(
          s"CREATE MATERIALIZED VIEW $v WITH (valid_at = '$validAt', ${s.withOpts}) " +
            s"AS ${s.select}")),
        () => txOp(s.txs._1),
        () => txOp(s.txs._2),
        () => Op(s"mv.refresh.${s.tag}", "refresh",
          _ => ddl(s"REFRESH MATERIALIZED VIEW $v"), probe = stateProbe),
        () => serveOp(s),
        () => readOp(reopen = s.tag == "B"),
        () => Op(s"mv.drop.${s.tag}", "drop", _ => ddl(s"DROP MATERIALIZED VIEW $v")))
    } ++ lazily(() => Op("maint.vacuum", "vacuum", _ => fact.vacuumLog(),
      probe = diskProbe(factDir)))
  }

  def minRounds: Int = if (cfg.trace) 2 else 1
  /** Incremental REFRESH after one transaction. */
  def isKey(op: OpSpan): Boolean = op.kind.startsWith("mv.refresh")

  /** Space amplification of the fact table (bytes under its directory over
    * the bytes of its current state written once as plain parquet) and a
    * last full-state check against the model. */
  override def finish(): (Map[String, Double], Seq[(String, Option[String])]) = {
    val plain = new File(cfg.workDir, "space_plain")
    val cur = fact.current()
    cur.write.mode("overwrite").parquet(plain.getPath)
    val amp = Runner.dirBytes(factDir).toDouble / Runner.dirBytes(plain)
    Runner.deleteRecursively(plain)
    val r = cur.agg(count(lit(1)), sum($"price")).head()
    val liveSum = model.values.map(_.price).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    val ok = r.getLong(0) == model.size && r.getDecimal(1).compareTo(liveSum) == 0
    GraftServer.unregister(Fact)
    GraftServer.unregister(Dim)
    (Map("space_amp" -> amp),
      Seq("final_state" -> Option.when(!ok)(
        s"current() = $r, model (${model.size}, $liveSum)")))
  }
}
