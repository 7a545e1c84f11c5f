package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** On-disk compatibility of matview state: the `_def` fingerprint and
  * the `_schema` sidecar are part of the state format. A build that
  * writes different bytes for the same definition discards every
  * existing view's state on its first refresh (the definition-change
  * path) and rebuilds it from the logs. The pins below are the bytes
  * the current format writes for three view shapes; after a simulated
  * restart (RESTORE over the existing state) a refresh must stay
  * incremental. */
class MvStateCompatSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def freshTable(payload: Seq[String]): graft.GraftTable = {
    val dir = Files.createTempDirectory("mv_compat").toString
    new graft.GraftTable(spark, dir, payload)
  }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  /** relative path -> pinned form of every `_def` (verbatim) and
    * `_schema` (SHA-256 of its bytes) under a view's state dir, aux
    * pair views included. */
  private def sidecars(viewDir: Path): Map[String, String] = {
    val s = Files.walk(viewDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
        .filter(p => Set("_def", "_schema")
          .contains(p.getFileName.toString))
        .map { p =>
          val bytes = Files.readAllBytes(p)
          viewDir.relativize(p).toString ->
            (if (p.getFileName.toString == "_def") new String(bytes, UTF_8)
             else sha256(bytes))
        }.toMap
    } finally s.close()
  }

  /** bucket dir name -> its data file names: a full rebuild rewrites
    * every file under new names, an incremental refresh only the
    * affected buckets. */
  private def bucketFiles(viewDir: Path): Map[String, Set[String]] = {
    val s = Files.list(viewDir.resolve("state"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("_bucket="))
        .map { b =>
          val fs = Files.list(b)
          try b.getFileName.toString ->
            fs.iterator().asScala.map(_.getFileName.toString).toSet
          finally fs.close()
        }.toMap
    } finally s.close()
  }

  private def watermark(viewDir: Path): String =
    new String(Files.readAllBytes(viewDir.resolve("_watermark")), UTF_8)

  private val pins: Map[String, Map[String, String]] = Map(
    "mv_compat_mm" -> Map(
      "_def" -> "e22356b9e5b94e119c2aca55b1eba4d9",
      "_schema" ->
        "092733a01e17c254031157f494dd251d621aab72d32aea75549aa7ffe7e63dee"),
    "mv_compat_bk" -> Map(
      "_def" -> "f870cc825a4bf44366a3ea2fab8ca346",
      "_schema" ->
        "649a8834fdcfedf88afc4e45a8f930b5514a17ef0113b29db1db4d305018846c",
      "_dist/amt/_def" -> "3d73ef0cb90965910d923924ec3c789f",
      "_dist/amt/_schema" ->
        "ba65735eb48c8b39bdedcd7a42356cdb7c1ec2f3e87a042ba058e7ed2d237559"),
    "mv_compat_lj" -> Map(
      "_def" -> "d39ed74b6214f18b54e0b751475b4d77",
      "_schema" ->
        "47b0eabec3f3460a4f4b73f6e0554e2cf4ce0552eb108991ae556bbbdf080115",
      "_dist/code/_def" -> "c00c4b09bca9ffb81a1cbdca5428deff",
      "_dist/code/_schema" ->
        "98123df55c9b482ffa3bab9b1b05d318f1cbebdfb5f2a61f2e0cbbf620e31155"))

  test("state sidecars keep their bytes, and a restart's refresh of " +
      "existing state stays incremental (no full rebuild)") {
    val s = spark
    import s.implicits._
    val mmT = freshTable(Seq("grp", "amt"))
    val bkT = freshTable(Seq("grp", "sub", "amt"))
    val fact = freshTable(Seq("fk", "amt", "code"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("compat_mm", mmT)
    GraftServer.register("compat_bk", bkT)
    GraftServer.register("compat_f", fact)
    GraftServer.register("compat_d", dim)
    val start = "2020-01-01"
    try {
      mmT.put((1 to 48).map(i => (i.toLong, s"g${i % 12}", i.toLong * 3))
          .toDF("id", "g", "m"), $"id", lit(start).cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
      bkT.put((1 to 48).map(i =>
          (i.toLong, s"g${i % 12}", s"s${i % 3}", (i % 5).toLong))
          .toDF("id", "g", "u", "m"), $"id", lit(start).cast("timestamp"),
        None, Seq("grp" -> $"g", "sub" -> $"u", "amt" -> $"m"),
        ts("2024-01-01 00:00:00"))
      dim.put((1 to 12).map(i => (i.toLong, s"r$i")).toDF("id", "rg"),
        $"id", lit(start).cast("timestamp"), None,
        Seq("region" -> $"rg"), ts("2024-01-01 00:00:00"))
      fact.put((1 to 48).map(i =>
          (i.toLong, Long.box((i % 14).toLong), i.toLong, s"c${i % 4}"))
          .toDF("id", "k", "m", "c"), $"id", lit(start).cast("timestamp"),
        None, Seq("fk" -> $"k", "amt" -> $"m", "code" -> $"c"),
        ts("2024-01-01 00:00:01"))

      val ddl = Seq(
        "CREATE MATERIALIZED VIEW mv_compat_mm WITH " +
          "(valid_at = '2030-01-01 00:00:00', buckets = 8) AS " +
          "SELECT grp, COUNT(*) AS n, SUM(amt) AS s, MIN(amt) AS lo, " +
          "MAX(amt) AS hi FROM compat_mm GROUP BY grp",
        "CREATE MATERIALIZED VIEW mv_compat_bk WITH " +
          "(valid_at = '2030-01-01 00:00:00', buckets = 8, " +
          "bucket_key = 'grp') AS " +
          "SELECT grp, sub, COUNT(*) AS n, COUNT(DISTINCT amt) AS d " +
          "FROM compat_bk GROUP BY grp, sub",
        "CREATE MATERIALIZED VIEW mv_compat_lj WITH " +
          "(valid_at = '2030-01-01 00:00:00', buckets = 8) AS " +
          "SELECT region, COUNT(*) AS n, SUM(amt) AS total, " +
          "COUNT(DISTINCT code) AS nd FROM compat_f " +
          "LEFT JOIN compat_d ON fk = compat_d._id GROUP BY region")
      ddl.foreach(GraftSql.sql(spark, _).collect())
      val dirs = Map(
        "mv_compat_mm" -> java.nio.file.Paths.get(mmT.tableDir, "matview",
          "mv_compat_mm"),
        "mv_compat_bk" -> java.nio.file.Paths.get(bkT.tableDir, "matview",
          "mv_compat_bk"),
        "mv_compat_lj" -> java.nio.file.Paths.get(fact.tableDir,
          "join_matview", "mv_compat_lj"))
      dirs.foreach { case (v, d) =>
        val got = sidecars(d)
        assert(got == pins(v), s"$v sidecars changed:\n" +
          got.toSeq.sortBy(_._1).mkString("\n") + "\n" +
          new String(Files.readAllBytes(d.resolve("_schema")), UTF_8))
      }

      // restart: the registry forgets the views, RESTORE re-creates
      // them from their DDL over the state already on disk
      GraftMatviews.reset()
      GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS").collect()

      // one small write per view, each touching a single group
      mmT.put(Seq((5L, "g5", 1000L)).toDF("id", "g", "m"), $"id",
        lit(start).cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-02 00:00:00"))
      bkT.put(Seq((5L, "g5", "s2", 9L)).toDF("id", "g", "u", "m"), $"id",
        lit(start).cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "amt" -> $"m"),
        ts("2024-01-02 00:00:00"))
      fact.put(Seq((5L, Long.box(5L), 700L, "c9")).toDF("id", "k", "m", "c"),
        $"id", lit(start).cast("timestamp"), None,
        Seq("fk" -> $"k", "amt" -> $"m", "code" -> $"c"),
        ts("2024-01-02 00:00:00"))

      dirs.foreach { case (v, d) =>
        val before = bucketFiles(d)
        val wmBefore = watermark(d)
        GraftSql.sql(spark, s"REFRESH MATERIALIZED VIEW $v").collect()
        val after = bucketFiles(d)
        assert(watermark(d) != wmBefore, s"$v: refresh folded nothing")
        val kept = before.count { case (b, fs) => after.get(b).contains(fs) }
        assert(before.size > 1 && kept == before.size - 1,
          s"$v: a one-group refresh must rewrite exactly one bucket of " +
            s"${before.size}, kept $kept — the state was rebuilt")
        assert(sidecars(d) == pins(v), s"$v sidecars changed by refresh")
      }

      // and the incremental result is the right one
      val mm = GraftSql.sql(spark,
        "SELECT n, s, lo, hi FROM mv_compat_mm WHERE grp = 'g5'").collect()
      assert(mm.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq == Seq((4L, 1000L + 17 * 3 + 29 * 3 + 41 * 3,
        17L * 3, 1000L)))
      val bk = GraftSql.sql(spark, "SELECT sub, n, d FROM mv_compat_bk " +
        "WHERE grp = 'g5' ORDER BY sub").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val bkWant = bkT.current().filter(col("grp") === "g5")
        .groupBy(col("sub")).agg(count(lit(1)), countDistinct(col("amt")))
        .orderBy(col("sub")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(bk == bkWant, s"$bk vs $bkWant")
      val lj = GraftSql.sql(spark, "SELECT n, total, nd FROM mv_compat_lj " +
        "WHERE region = 'r5'").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(lj == Seq((4L, 700L + 19 + 33 + 47, 3L)), lj.toString)
    } finally {
      Seq("mv_compat_mm", "mv_compat_bk", "mv_compat_lj").foreach(v =>
        scala.util.Try(GraftSql.sql(spark,
          s"DROP MATERIALIZED VIEW IF EXISTS $v").collect()))
      Seq("compat_mm", "compat_bk", "compat_f", "compat_d")
        .foreach(GraftServer.unregister)
      GraftMatviews.reset()
    }
  }
}
