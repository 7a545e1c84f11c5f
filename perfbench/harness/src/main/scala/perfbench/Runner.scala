package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, dataDir: String, smallDataDir: String,
                        workDir: String,
                        benchDir: String, cpus: Int)

/** One timed operation. `body` is the timed region; it may record what it
  * measured inside itself in the span's `attrs`. `check` runs after the
  * op, untimed, and returns a mismatch description when the op's output
  * was wrong. `probe` runs around traced ops only, outside the timed
  * region (it reads disk state before and after the op). */
final case class Op(kind: String, name: String, body: OpSpan => Unit,
                    check: () => Option[String] = () => None,
                    probe: Probe = Probe.none) {
  def opType: String = OpSpan.opType(kind, name)
}

trait Probe {
  def before(span: OpSpan): Unit
  def after(span: OpSpan): Unit
}
object Probe {
  val none: Probe = new Probe {
    def before(span: OpSpan): Unit = ()
    def after(span: OpSpan): Unit = ()
  }
}

trait Workload {
  /** Build the workload's starting state under `dir`, from scratch. */
  def setup(dir: File): Unit
  /** Untimed checks before the loop: (what, mismatch if any). */
  def verify(): Seq[(String, Option[String])] = Nil
  /** The ops of round `r`; every round has the same composition. Lazy:
    * an op may draw its inputs from state the previous op left. */
  def round(r: Int): Iterator[Op]
  /** Rounds the loop runs at least, whatever `--seconds` says; in a traced
    * run, enough for every op type to occur twice. */
  def minRounds: Int
  /** The workload's key operation, whose mean latency is `key_mean_ms`. */
  def isKey(op: OpSpan): Boolean
  /** Untimed end-of-run figures (added to the per-layer metrics) and
    * checks. */
  def finish(): (Map[String, Double], Seq[(String, Option[String])]) =
    (Map.empty, Nil)
}

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)],
                        detail: Map[String, Any])

object Runner {
  /** No round starts after this, so a run ends well inside the per-run
    * time limit even when its minimum rounds do not fit. */
  val MaxLoopSeconds = 75.0

  /** Run `wl`; `jvmStartMs` is the process start, from which `setup_s`
    * is timed to the first timed op. */
  def run(spark: SparkSession, cfg: Config, wl: Workload,
          jvmStartMs: Long): Result = {
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    def tally(checks: Seq[(String, Option[String])]): Unit = checks.foreach {
      case (what, err) =>
        attempted += 1
        err.foreach(e => failures += s"$what: $e")
    }

    // ---- set-up: session, state, and the untimed checks, which warm
    // the JVM; setup_s runs from process start to the first timed op ----
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val s0 = System.nanoTime()
    wl.setup(new File(cfg.workDir, "state"))
    val stateS = (System.nanoTime() - s0) / 1e9
    tally(wl.verify())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- timed closed loop ----
    val tracer = if (cfg.trace) Some(new Tracer(spark)) else None
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
    val spans = ArrayBuffer.empty[OpSpan]
    val occurrences = mutable.Map.empty[String, Int].withDefaultValue(0)
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var r = 0
    while ((r < wl.minRounds || elapsed < cfg.seconds) &&
           elapsed < MaxLoopSeconds) {
      wl.round(r).foreach { op =>
        val occ = occurrences(op.opType)
        occurrences(op.opType) = occ + 1
        val span = new OpSpan(spans.size, op.kind, op.name, occ)
        // traced runs trace every other occurrence of each op type, half
        // of the types from their first occurrence and half from their
        // second (by the type name's hash), so warm-up between the two does
        // not read as tracing overhead
        val traced = tracer.isDefined && (occ + (op.opType.hashCode & 1)) % 2 == 0
        var gc0 = 0.0
        if (traced) {
          op.probe.before(span)
          gc0 = gcMs
          tracer.get.begin(span)
        }
        span.startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try op.body(span)
        catch {
          case e: Throwable =>
            span.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        span.wallMs = (System.nanoTime() - t0) / 1e6
        if (traced) {
          tracer.get.end(span)
          span.driverGcMs = gcMs - gc0
          span.attrs("retained_bytes") = retainedBlockBytes(spark)
          op.probe.after(span)
        }
        spans += span
        attempted += 1
        span.error match {
          case Some(e) => failures += s"${op.opType}#$occ: $e"
          case None => op.check().foreach(e => failures += s"${op.opType}#$occ: $e")
        }
      }
      r += 1
    }
    val loopS = elapsed
    val stray = tracer.map(_.strayJobs).getOrElse(0)
    val callbackMs = tracer.map(_.callbackNs / 1e6).getOrElse(0.0)
    tracer.foreach(_.detach())

    val (extra, endChecks) = wl.finish()
    tally(endChecks)
    val liveHeapMb = liveHeapMB()

    val walls = spans.map(_.wallMs).toSeq
    val keyWalls = spans.filter(s => wl.isKey(s)).map(_.wallMs).toSeq
    require(keyWalls.nonEmpty, "no key op ran")
    // Means, not order statistics, are the gated latencies: over a fixed
    // op mix a mean is the closed loop's time per op, while a median of a
    // mix of op types jumps between types from seed to seed. Medians and
    // admitted tails per op type go to the detail file.
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_mean_ms", Stats.mean(walls), "ms"),
      ("key_mean_ms", Stats.mean(keyWalls), "ms"),
      ("live_heap_mb", liveHeapMb, "MB"))
    val tail = Stats.tailLevel(walls.size)
    val layers = if (cfg.trace) Layers.metrics(spans.toSeq, extra, stray, callbackMs) else Nil

    val byType = spans.groupBy(_.opType).toSeq.sortBy(_._1).map { case (t, ss) =>
      val w = ss.map(_.wallMs).toSeq
      t -> Map(
        "n" -> w.size,
        "p50_ms" -> Stats.median(w),
        "tail" -> Stats.tailLevel(w.size).map(p =>
          Map("level" -> p, "ms" -> Stats.percentile(w, p))),
        "mean_ms" -> Stats.mean(w))
    }
    val detail = Map[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed,
      "seconds" -> cfg.seconds, "trace" -> cfg.trace, "cpus" -> cfg.cpus,
      "session_s" -> sessionS, "state_s" -> stateS,
      "rounds" -> r, "loop_s" -> loopS, "ops" -> spans.size,
      "tail_level_supported" -> tail,
      "failures" -> failures.take(50),
      "end_to_end" -> e2e.map(m => m._1 -> m._2).toMap,
      "per_op_type" -> byType.toMap,
      "extra" -> extra,
      "per_layer" -> layers.map(m => m._1 -> m._2).toMap,
      "counters" -> (if (cfg.trace) Layers.counters(spans.toSeq) else Map.empty),
      "spans" -> (if (cfg.trace) spans.filter(_.traced).map(Layers.spanJson) else Nil))
    Result(failures.isEmpty, attempted, failures.size,
      if (cfg.trace) layers else e2e, detail)
  }

  /** Bytes of RDD blocks the block manager holds (cached or checkpointed
    * data nobody released). */
  def retainedBlockBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble

  /** Driver heap in use after full collections: the least of four
    * readings, each taken a moment after its collection so that what the
    * collection freed up for cleanup threads is gone too (softly reachable
    * caches survive a collection or not depending on timing). */
  def liveHeapMB(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Total bytes of the regular files under `f`. */
  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  /** Path → size of every parquet file under `f`. */
  def parquetFiles(f: File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .flatMap(c => parquetFiles(c)).toMap
    else if (f.isFile && f.getName.endsWith(".parquet")) Map(f.getPath -> f.length())
    else Map.empty
}
