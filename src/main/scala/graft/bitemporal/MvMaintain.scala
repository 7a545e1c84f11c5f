package graft.bitemporal

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.sql.types.StructType

/** The maintenance pipeline both view kinds share — [[Matview]] over
  * one tx log, [[JoinMatview]] over a star of them. It owns the
  * aggregate spec (checks, state-column aliases, the definition
  * fingerprint), the state's files (bucketed data dir, watermarks,
  * sidecars), the full (re)build and the incremental merge. A view
  * kind supplies only what is its own: the `+1`/`-1` member relations
  * of a refresh's delta (the touched rows' visible contribution after
  * and before the tail), and the complete member relation at the basis
  * for full builds and the touched-group recompute.
  *
  * `fpLead` leads the definition fingerprint (the view's payload or
  * fact columns); `fpKindParts`/`fpKindTags` carry the kind's own
  * definition parts and non-default extras (the star's dims and LEFT
  * spokes). */
private[graft] final class MvMaintain(
    spark: SparkSession, stateRoot: Path,
    groupCols: Seq[String], sumCols: Seq[String],
    minCols: Seq[String], maxCols: Seq[String], cntCols: Seq[String],
    hllCols: Seq[String], pcts: Seq[MvPct],
    whereSql: Option[String], derived: Seq[(String, String)],
    distincts: Seq[MvDistinct], bucketCols: Seq[String],
    rangeLayout: Boolean, validAt: Timestamp, nBuckets: Int,
    fpLead: Seq[String], fpKindParts: Seq[Seq[String]] = Nil,
    fpKindTags: Seq[String] = Nil) {
  import MvMaintain.SignCol

  require(groupCols.nonEmpty, "at least one group column")
  // the state's bucket hash normally covers the whole group key; an aux
  // pair view buckets on the PARENT view's group prefix instead (see
  // MvDistinct's contract) — any non-default key must be a subset of
  // the group columns (a bucket must be a function of the group key)
  private val bucketKeyCols =
    if (bucketCols.isEmpty) groupCols else bucketCols
  require(bucketKeyCols.forall(groupCols.contains),
    s"bucket key $bucketKeyCols must be a subset of group columns $groupCols")
  // a range layout partitions state by groupCols.head's VALUE, but the
  // _schema sidecar stamps GroupsKey from bucketKeyCols — MvBucketPrune
  // translates predicates on GroupsKey.head, so the two MUST agree or
  // pruning would be unsound (the DDL always satisfies this; the guard
  // closes the private-API hole)
  require(!rangeLayout || bucketKeyCols.head == groupCols.head,
    s"layout = 'range' requires the bucket key to lead with the " +
      s"leading group column (got ${bucketKeyCols.headOption} vs " +
      s"${groupCols.head})")
  pcts.foreach(p => require(p.p >= 0.0 && p.p <= 1.0,
    s"percentile fraction ${p.p} must be in [0, 1]"))
  require(nBuckets > 0, "nBuckets must be positive")
  // the signed delta aggregation tags each member row with SignCol; a
  // group or aggregate column of that name would be silently replaced
  private val viewCols = groupCols ++ sumCols ++ minCols ++ maxCols ++
    cntCols ++ hllCols ++ pcts.map(_.arg)
  require(!viewCols.contains(SignCol),
    s"column name $SignCol is internal to matview maintenance: a view " +
      s"cannot group or aggregate by a payload or derived column named " +
      s"$SignCol")

  val dataDir: Path = stateRoot.resolve("state")
  private val wmFile = stateRoot.resolve("_watermark")

  private def sumAlias(c: String) = s"sum_$c"
  private def minAlias(c: String) = s"min_$c"
  private def maxAlias(c: String) = s"max_$c"
  private def cntAlias(c: String) = s"cnt_$c"
  private def hllAlias(c: String) = s"hll_$c"
  // APPROX_COUNT_DISTINCT state: one mergeable DataSketches HLL sketch
  // (binary) per group — state ∝ groups where the exact pair-level
  // alternative is ∝ distinct (group, value) pairs. Sketches cannot
  // subtract, so they ride the SAME lifecycle as MIN/MAX: recomputed
  // for the TOUCHED GROUPS from their member rows at every refresh
  // (never merged incrementally) — which makes deletes/updates (and a
  // star view's dim group-moves) EXACT for the sketch's own semantics:
  // the stored sketch always describes exactly the current members.
  // MEDIAN/PERCENTILE_CONT (exact) and APPROX_PERCENTILE state: the
  // per-group percentile VALUE (double), on the same lifecycle —
  // percentiles, like extremes, are not self-maintainable under
  // deletes/updates. Exact percentile buffers one touched group's
  // values per task (fine for the recompute's member slice; a group
  // with billions of members should use the approx form, whose
  // t-digest memory is bounded by its accuracy knob).
  private val mmAliases: Seq[String] =
    minCols.map(minAlias) ++ maxCols.map(maxAlias) ++ hllCols.map(hllAlias) ++
      pcts.map(_.alias)
  private def mmAggs =
    minCols.map(c => min(col(c)).as(minAlias(c))) ++
      maxCols.map(c => max(col(c)).as(maxAlias(c))) ++
      hllCols.map(c => hll_sketch_agg(col(c)).as(hllAlias(c))) ++
      pcts.map(p => p.agg.as(p.alias))
  // COUNT(col) = per-column NON-NULL counter — self-maintainable the
  // same way n is (a delta subtracts like a count does; null cells
  // simply never contribute); AVG = sum/cnt at read time
  private def cntAggs =
    cntCols.map(c => count(col(c)).as(cntAlias(c)))
  private def ddAliases: Seq[String] = MvState.distinctAliases(distincts)

  /** The maintained relation is the FILTERED member relation when the
    * view declares a WHERE (a row-local deterministic predicate
    * commutes with the Δ-rules — a tail row that leaves or enters the
    * predicate behaves exactly like a delete or insert), with the
    * derived expression columns attached. Every aggregation path of
    * both view kinds goes through here, because it feeds the group-key
    * and bucket formula. */
  private def prep(members: DataFrame): DataFrame =
    derived.foldLeft(
      whereSql.map(w => members.filter(expr(w))).getOrElse(members)) {
      case (d, (n, e)) => d.withColumn(n, expr(e))
    }

  /** The visible rows of a rectangle relation at the view's fixed
    * basis (`validAt`, system = latest). */
  def atBasis(rect: DataFrame): DataFrame =
    Bitemporal.asOf(rect, lit(validAt), lit(MvMaintain.SysProbe))

  // timezone-aware expressions make incremental refresh
  // session-timezone-sensitive — see MvState.pinTimeZone. Beyond
  // WHERE/derived expressions, a TIMESTAMP-typed group column is
  // sensitive through the bucket hash itself (the key casts to string,
  // and timestamp rendering reads the session zone) — its type is read
  // from the given schema (state sidecar, or the aggregate's own).
  private def tzSensitive(schema: StructType): Boolean =
    whereSql.nonEmpty || derived.nonEmpty ||
      groupCols.exists(g => schema.find(_.name == g).exists(
        _.dataType.typeName.startsWith("timestamp")))

  /** Stable fingerprint of the view DEFINITION — see MvState.pinDef.
    * The non-default parts (distinct rollups, bucket key, sketches,
    * range layout, the kind's tags, percentiles) append ONLY when
    * present, keeping every pre-existing plain view's fingerprint (and
    * thus its state) intact across upgrades; a view that GAINS one must
    * rebuild (its state schema/layout changes). */
  private val defFp: String = {
    val extras =
      (if (distincts.nonEmpty)
        Seq("dist:" + distincts.map(d =>
          d.arg + (if (d.needSum) "+s" else "")).mkString(","))
      else Nil) ++
      (if (bucketKeyCols != groupCols)
        Seq("bkey:" + bucketKeyCols.mkString(",")) else Nil) ++
      (if (hllCols.nonEmpty) Seq("hll:" + hllCols.mkString(",")) else Nil) ++
      (if (rangeLayout) Seq("layout:range") else Nil) ++
      fpKindTags ++
      (if (pcts.nonEmpty) Seq("pct:" + pcts.map(_.fpPart).mkString(","))
       else Nil)
    val parts = Seq(fpLead, groupCols, sumCols, minCols, maxCols,
      cntCols, Seq(whereSql.getOrElse("")),
      derived.map(d => d._1 + "=" + d._2)) ++ fpKindParts ++
      Seq(Seq(validAt.toString, nBuckets.toString)) ++
      (if (extras.nonEmpty) Seq(extras) else Nil)
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.map(_.mkString("\u0001")).mkString("\u0002")
        .getBytes(UTF_8)).map(b => f"$b%02x").mkString
  }

  private def bucketCol =
    if (rangeLayout) MvState.rangeBucketCol(groupCols.head)
    else MvState.bucketCol(bucketKeyCols, nBuckets)

  /** The recorded watermarks, one per log the view folds (empty before
    * the first build). */
  def watermarks: Seq[Long] =
    if (Files.exists(wmFile))
      new String(Files.readAllBytes(wmFile), UTF_8).trim
        .split(" ").toSeq.filter(_.nonEmpty).map(_.toLong)
    else Nil

  private def setWatermarks(ws: Seq[Long]): Unit = {
    Files.createDirectories(stateRoot)
    val tmp = stateRoot.resolve("_watermark.tmp")
    Files.write(tmp, ws.mkString(" ").getBytes(UTF_8))
    Files.move(tmp, wmFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** A DEFINITION change over the same state dir (JVM restart +
    * re-CREATE, or a Scala-API re-instantiation with different
    * aggregates/WHERE/groups/dims) invalidates the state: discard it so
    * the refresh falls through to the full build — folding
    * new-definition deltas into old-definition state would be silently
    * wrong. The sidecars go WITH the data: a surviving '_schema' would
    * let read() serve the OLD definition's column set (empty relation /
    * phantom schema) until the rebuild completes — and if the rebuild
    * fails or a log is empty, forever. Without them, read() fails with
    * the honest "has no state" story; the build re-creates both. */
  def discardIfRedefined(): Unit =
    if (!MvState.defMatches(stateRoot, defFp)) {
      TxLog.deleteRecursively(dataDir.toFile)
      Files.deleteIfExists(wmFile): Unit
      Files.deleteIfExists(stateRoot.resolve("_schema")): Unit
      Files.deleteIfExists(stateRoot.resolve("_tz")): Unit
    }

  /** Refuse incremental work under a different session timezone than
    * the state was built in, when the view is timezone-sensitive. */
  def checkTimeZone(): Unit =
    if (MvState.storedSchema(stateRoot).exists(tzSensitive))
      MvState.checkTimeZone(spark, stateRoot)

  /** Pin every DISTINCT aux to exactly the watermarks this refresh will
    * record, so the rollup reads pair state at the same log prefix the
    * main state describes. `shared` hands a single-table aux the main
    * refresh's already-derived relations — the aux aggregates the SAME
    * table at the SAME watermarks, so re-deriving them would re-fold
    * the log once per DISTINCT argument. */
  private def syncAuxes(ws: Seq[Long], shared: Option[MvShared]): Unit =
    distincts.foreach(_.refreshAuxTo(ws, shared))

  /** Full per-group aggregate INCLUDING min/max — only valid over a
    * COMPLETE member relation, never over a delta: min/max don't
    * subtract. */
  private def fullAgg(members: DataFrame): DataFrame =
    prep(members).groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.map(c => sum(col(c)).as(sumAlias(c))) ++ cntAggs ++ mmAggs: _*)

  /** Build the whole state from the complete member relation at the
    * basis, then record `ws` — the first build, and the rebuild a
    * truncated log forces (the incremental delta needs touched ids'
    * full op history, which a truncated log no longer has; the
    * rectangles still determine the view exactly). `members` is built
    * after the auxes are synced; `what` names the step in range-layout
    * refusals.
    *
    * Temp-write + directory swap: a concurrent read() sees either the
    * complete old state or the complete new one — never a partial
    * overwrite-in-place — with ONE caveat: POSIX cannot atomically
    * exchange two directories, so a read landing exactly between the
    * two renames fails with path-not-found (a retryable error, not
    * wrong data). A crash in that window self-heals: a build derives
    * everything from the logs, never from prior state, and the next
    * refresh (watermark still behind) builds again. */
  def build(ws: Seq[Long], what: String, shared: Option[MvShared] = None)(
      members: => DataFrame): Seq[Long] = {
    syncAuxes(ws, shared)
    val agg = MvState.attachDistinctFull(
      fullAgg(members).withColumn("_bucket", bucketCol),
      groupCols, distincts, spark)
    if (rangeLayout) {
      MvState.checkRangeKey(agg.schema, groupCols.head)
      MvState.checkRangeBuild(agg,
        MvState.rangeLeadKind(agg.schema, groupCols.head), what)
    }
    val tmp = stateRoot.resolve("state_rebuild_tmp")
    TxLog.deleteRecursively(tmp.toFile)
    // schema sidecar: a build that matches nothing writes a file-less
    // parquet dir — without the pinned schema every later read throws
    MvState.writeSchema(stateRoot, agg, bucketKeyCols, nBuckets, rangeLayout)
    MvState.writeState(agg, groupCols, tmp, nBuckets)
    val old = stateRoot.resolve("state_rebuild_old")
    TxLog.deleteRecursively(old.toFile)
    if (Files.exists(dataDir)) { Files.move(dataDir, old): Unit }
    Files.move(tmp, dataDir): Unit
    TxLog.deleteRecursively(old.toFile)
    if (tzSensitive(agg.schema)) MvState.pinTimeZone(spark, stateRoot)
    MvState.pinDef(stateRoot, defFp)
    setWatermarks(ws)
    ws
  }

  /** Fold one refresh's delta into the state, then record `ws`.
    * `newSide`/`oldSide` are the touched rows' member relations at the
    * basis after and before the tail; `members` is the complete member
    * relation at `ws`, read only when the view keeps extremes, sketches
    * or percentiles. `shared` goes to the DISTINCT auxes; `onDelta`
    * sees the delta plan before it executes (a test hook).
    *
    * State writes ∝ touched GROUPS: state is hash-bucketed on the group
    * key and only buckets holding a changed group are rewritten
    * (temp-write + per-bucket directory swap); the only data-dependent
    * collects are the affected bucket ids (≤ nBuckets values) and, up to
    * a cap, the touched group keys. */
  def merge(ws: Seq[Long], newSide: DataFrame, oldSide: DataFrame,
            shared: Option[MvShared],
            onDelta: DataFrame => Unit = _ => ())(
      members: => DataFrame): Seq[Long] = {
    // Delta per group: (new minus old) as ONE aggregation over the
    // SIGNED union of both sides' contributions. Exact for the
    // integral/DECIMAL sum types: SUM(new) − SUM(old) = SUM(±x) term
    // for term; floating sums may differ from a recompute in the last
    // bits (docs/SQL_SURFACE.md).
    def signed(side: DataFrame, sign: Long): DataFrame =
      prep(side).withColumn(SignCol, lit(sign))
    val delta = signed(newSide, 1L).unionByName(signed(oldSide, -1L))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col(SignCol)).as("n"),
        sumCols.map(c => sum(when(col(SignCol) === 1L, col(c))
          .otherwise(-col(c))).as(sumAlias(c))) ++
          cntCols.map(c => sum(when(col(c).isNotNull, col(SignCol))
            .otherwise(0L)).as(cntAlias(c))): _*)
      .withColumn("_bucket", bucketCol)
    // the state's sum types stay the plain aggregate's — for integral
    // and DECIMAL inputs SUM(±x) has the type SUM(x) has. Uncapped, each
    // merge's + widens decimal precision by one per refresh until the
    // parquet FIXED_LEN byte width diverges from older bucket files and
    // state reads fail — regression-tested by MatviewSpec's
    // many-refresh test
    val sumT = sumCols.map(c =>
      sumAlias(c) -> delta.schema(sumAlias(c)).dataType).toMap
    onDelta(delta)
    // the delta feeds the affected-bucket set, the touched-group probe
    // AND the state merge — checkpoint it once (rows ∝ touched groups)
    // so the whole upstream refold+aggregate pipeline runs one time,
    // not once per consumer. The bucket set and group-tuple probe ride
    // INSIDE the materializing job.
    val groupCap =
      if (groupCols.size == 1) MvState.MaxInlineGroups
      else MvState.MaxInlineGroupTuples
    val (deltaCp, deltaRows, bucketsOpt, tuplesOpt) =
      RddBridge.localCheckpointWithStats(
        delta, delta.schema.fieldIndex("_bucket"),
        math.max(nBuckets, MvState.MaxRangeDirs + 1),
        groupCols.map(delta.schema.fieldIndex), groupCap)
    val affected: Seq[Any] =
      if (deltaRows == 0L) Nil
      else bucketsOpt.getOrElse(
        deltaCp.select(col("_bucket")).distinct()
          .collect().map(_.get(0)).toSeq)
    if (affected.isEmpty) {
      MvState.pinDef(stateRoot, defFp); setWatermarks(ws); return ws
    }
    if (rangeLayout)
      MvState.checkRangeRefresh(affected,
        MvState.rangeLeadKind(deltaCp.schema, groupCols.head))

    val s = MvState.readState(spark, stateRoot, dataDir)
      .filter(col("_bucket").isin(affected: _*)).as("s")
    val d = deltaCp.as("d")
    val mkey = groupCols.map(g =>
      col(s"s.$g") <=> col(s"d.$g")).reduce(_ && _)
    val countSum = s.join(d, mkey, "full_outer")
      .select(
        (groupCols.map(g =>
          coalesce(col(s"s.$g"), col(s"d.$g")).as(g)) :+
          (coalesce(col("s.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n")) ++
          (sumCols.map { c =>
            val a = sumAlias(c)
            (coalesce(col(s"s.$a"), lit(0)) + coalesce(col(s"d.$a"), lit(0)))
              .cast(sumT(a)).as(a)
          } ++ cntCols.map { c =>
            val a = cntAlias(c)
            (coalesce(col(s"s.$a"), lit(0L)) + coalesce(col(s"d.$a"), lit(0L))).as(a)
          } ++
            // state's min/max — and the distinct rollup columns — ride
            // along for groups in an affected bucket that this refresh
            // does NOT touch (null for brand new groups — every new
            // group is touched, so the overlay/re-read below always
            // overwrites it)
            (mmAliases ++ ddAliases).map(a => col(s"s.$a").as(a)) :+
          coalesce(col("s._bucket"), col("d._bucket")).as("_bucket")): _*)
      .filter(col("n") > 0) // a group whose last row left the view goes away
    // shared by the mm fallback AND the distinct-rollup overlay below.
    // When the fused stats already collected the distinct group tuples
    // (≤ cap), serve them as a LOCAL relation: downstream probes/joins
    // then read driver-local rows instead of re-scanning the checkpoint
    // (membersOfTouched's limit-collect becomes job-free).
    lazy val touchedGroups = tuplesOpt match {
      case Some(rows) =>
        spark.createDataFrame(
          new java.util.ArrayList(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          StructType(groupCols.map(g => deltaCp.schema(g))))
      case None => deltaCp.select(groupCols.map(col): _*).distinct()
    }
    // MIN/MAX (and sketch/percentile) fallback — the classic IVM
    // restriction: extremes are not self-maintainable under deletes/
    // updates (nor under a star view's dim group-move, which can strip
    // the OLD group's extreme with zero fact ops). The TOUCHED GROUPS —
    // and only those — re-read their member rows at the basis and
    // recompute from scratch. The member relation is the SIEVED one (a
    // row outside the WHERE must not donate an extreme) with derived
    // columns attached BEFORE the restriction, so a derived group key
    // exists for the touched-group predicate; the restriction ships as
    // LITERALS under the cap, which Catalyst pushes to the base parquet
    // scan (past the join to whichever side carries the group column),
    // and falls back to a semi-join past it (MvState.membersOfTouched).
    // COUNT/SUM-only views skip all of this, keeping refresh ∝ tail.
    val merged =
      if (mmAliases.isEmpty) countSum
      else {
        val mm = MvState.membersOfTouched(prep(members), touchedGroups,
            groupCols)
          .groupBy(groupCols.map(col): _*)
          .agg(mmAggs.head, mmAggs.tail: _*)
          .select(groupCols.map(col) ++ (lit(true).as("_mm") +:
            mmAliases.map(a => col(a).as(s"_r_$a"))): _*)
        val mmKey = groupCols.map(g =>
          col(s"m.$g") <=> col(s"r.$g")).reduce(_ && _)
        countSum.as("m").join(mm.as("r"), mmKey, "left").select(
          (groupCols.map(g => col(s"m.$g").as(g)) :+ col("m.n").as("n")) ++
            (sumCols.map(c => col(s"m.${sumAlias(c)}").as(sumAlias(c))) ++
              cntCols.map(c => col(s"m.${cntAlias(c)}").as(cntAlias(c))) ++
              // the _mm flag (not coalesce) decides: a touched group
              // whose recomputed extreme is legitimately NULL (all
              // values null) must not fall back to the stale state
              mmAliases.map(a =>
                when(col("_mm") === true, col(s"_r_$a"))
                  .otherwise(col(s"m.$a")).as(a)) ++
              ddAliases.map(a => col(s"m.$a").as(a)) :+
            col("m._bucket").as("_bucket")): _*)
      }
    // DISTINCT rollup overlay: pin the auxes to this refresh's
    // watermarks, then recompute cntd/sumd for the TOUCHED groups from
    // the pair state — partition-pruned to the affected buckets (the
    // aux is bucketed on the parent group prefix with the same bucket
    // count). Untouched groups in affected buckets keep the stored
    // rollup they rode along with above.
    val finalMerged =
      if (distincts.isEmpty) merged
      else {
        syncAuxes(ws, shared)
        MvState.overlayDistinct(merged, groupCols, touchedGroups,
          affected, distincts, spark)
      }
    MvState.swapBuckets(stateRoot, dataDir, finalMerged, affected, groupCols,
      rangeCap = rangeLayout)
    MvState.pinDef(stateRoot, defFp)
    setWatermarks(ws)
    ws
  }

  /** The state WITH the `_bucket` partition column, read-only. */
  def state(session: SparkSession): DataFrame =
    MvState.readState(session, stateRoot, dataDir)
}

private[graft] object MvMaintain {
  /** Internal column tagging each member row of a refresh's delta
    * with its sign (+1 new contribution, -1 old). */
  val SignCol = "_sign"

  /** "system = latest" probe: any timestamp beyond every real system
    * time selects exactly the open (_system_to = ∞) rectangles. */
  val SysProbe: Timestamp = Timestamp.valueOf("9998-01-01 00:00:00")

  def txId(p: Path): Long =
    p.getFileName.toString.stripPrefix("tx_").stripSuffix(".parquet").toLong

  /** The newest tx id (or truncation point) of a log, -1 when empty —
    * one directory listing, no data read. */
  def lastTx(log: TxLog): Long =
    (log.txFiles().map(txId) ++ log.truncatedUpTo()).maxOption.getOrElse(-1L)

  def readTx(spark: SparkSession, files: Seq[Path]): DataFrame =
    TxLog.readMerged(spark, files.map(_.toString))
}
