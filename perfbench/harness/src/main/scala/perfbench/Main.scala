package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --data-small DIR --work DIR --bench DIR --out FILE`.
  * Prints one JSON result as the last line of stdout and writes the
  * run's detail (per-op-type figures, counters, spans) to `--out`. */
object Main {
  val Workloads = Seq("olap-catalog", "mv-maintain")

  /** Renders the result, detail and golden files (Scala maps, sequences
    * and options included). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def readGolden(f: File): Map[String, String] =
    json.readValue(f, new TypeReference[Map[String, String]] {})

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def parseArgs(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val cpus = Runtime.getRuntime.availableProcessors()
    val cfg = Config(workload, a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("data"), a("data-small"), a("work"), a("bench"), cpus)
    new File(cfg.workDir).mkdirs()
    println(s"""{"perfbench":"start","workload":"$workload","seed":${cfg.seed},""" +
      s""""trace":${cfg.trace},"cpus":$cpus}""")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, new File(cfg.workDir, "spark").getPath)
    val wl: Workload = workload match {
      case "olap-catalog" =>
        new OlapCatalog(spark, cfg,
          readGolden(new File(cfg.benchDir, "golden/olap-catalog.json")))
      case "mv-maintain" => new MvMaintain(spark, cfg)
    }
    val res = try Runner.run(spark, cfg, wl, jvmStart) finally spark.stop()
    json.writeValue(new File(a("out")), res.detail)
    if (!res.correct)
      System.err.println("perfbench: output check failures:\n  " +
        res.detail("failures").asInstanceOf[Iterable[String]].mkString("\n  "))
    val metrics = res.metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
    println(json.writeValueAsString(Map(
      "correct" -> res.correct, "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }
}
