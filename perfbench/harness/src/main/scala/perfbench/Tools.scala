package perfbench

import java.io.File

import scala.collection.immutable.ListMap

import graft.SparkEntry

/** Maintenance commands, run through `run.py tool <command> ...`:
  *  - `prepare SRC OUT`: scale the committed sf0.01 fixture ×10 into an
  *    sf0.1-sized one with the engine's own `GenScale`, at a fixed local[4]
  *    so the file layout does not depend on the machine;
  *  - `golden DATA OUT ENTRY...`: fingerprint catalog entries into a
  *    golden file (twice, refusing entries whose fingerprint differs
  *    between the two passes). */
object Tools {
  /** Spark's scratch space: under the JVM's temporary directory. */
  private def localDir = new File(System.getProperty("java.io.tmpdir"), "tools-spark").getPath

  def main(argv: Array[String]): Unit = argv.toList match {
    case "prepare" :: src :: out :: Nil =>
      val spark = Main.session(4, localDir)
      try graft.tools.GenScale.generate(spark, src, out, 10)
      finally spark.stop()
    case "golden" :: data :: out :: entries =>
      val spark = Main.session(Runtime.getRuntime.availableProcessors(), localDir)
      try {
        val fp = entries.flatMap { e =>
          val f = SparkEntry.queries(e)
          val a = util.Try(Fingerprint.of(f(spark, data)))
          val b = util.Try(Fingerprint.of(f(spark, data)))
          (a, b) match {
            case (util.Success(x), util.Success(y)) if x == y => Some(e -> x)
            case _ =>
              System.err.println(s"[golden] skip $e: $a / $b"); None
          }
        }
        Main.json.writerWithDefaultPrettyPrinter()
          .writeValue(new File(out), ListMap(fp.sortBy(_._1): _*))
      } finally spark.stop()
    case other =>
      System.err.println(s"unknown tool command: ${other.mkString(" ")}")
      sys.exit(2)
  }
}
