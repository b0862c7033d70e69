package graft.sources

import graft.sources.LakeFiles.jstr
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Read-only Apache Hudi COPY-ON-WRITE table reader implemented from
  * the PUBLIC Hudi layout (hudi.apache.org/docs — timeline + file
  * layout): `.hoodie/` holds `hoodie.properties` and a timeline of
  * `<instant>.commit` JSON files (completed commits only — `.inflight`
  * and `.requested` markers are in-progress and never read); each
  * commit's `partitionToWriteStats` names the base file (parquet or
  * ORC) written per FILE GROUP (fileId). Under copy-on-write a later commit
  * REWRITES a group's whole base file, so the snapshot at instant T is
  * simply: for every (partition, fileId), the path from the latest
  * commit ≤ T that touched it.
  *
  * Third lakehouse-interop leg next to [[DeltaLogLite]] and
  * [[IcebergLite]] (reference surface: thirdparty/auron-hudi — the
  * reference converts Hudi scans into its native engine). Same
  * Spark-first split: timeline replay is bounded plan-time metadata;
  * data reads are native vectorized parquet/ORC scans (COW base
  * files carry every column), keeping pushdown/pruning/codegen.
  *
  * `.replacecommit` instants (clustering / insert-overwrite) are
  * REPLAYED: the instant's `partitionToReplaceFileIds` first drops the
  * named (partition, fileId) groups, then its `partitionToWriteStats`
  * adds the replacement base files — so a clustered table reads its
  * compacted output, never both generations of a group.
  *
  * MERGE_ON_READ tables are served in Hudi's documented
  * READ-OPTIMIZED query mode (`readOptimized = true`): only base
  * (columnar) files are read — a `.deltacommit`'s parquet writeStats
  * (new-file-group inserts) join the file set, its `.log.` writeStats
  * are skipped, and a compaction (completing as `<t>.commit`) or
  * clustering advances the groups it rewrote. That is exactly the
  * freshness contract Hudi gives read_optimized queries; rows still
  * sitting in logs appear after their compaction. The SNAPSHOT query
  * mode on MOR (merge logs at read time) lives in [[HudiMorLite]] —
  * EXCEEDING the reference, whose Hudi provider only converts
  * read-optimized/COW scans (thirdparty/auron-hudi/
  * HudiScanSupport.scala:42-49 falls back on MOR snapshot reads);
  * this object refuses it so a COW-path caller never silently gets
  * the stale view.
  *
  * Lite scope, loud failures (never silent wrong answers):
  *  - `hoodie.table.type` must be COPY_ON_WRITE, or MERGE_ON_READ
  *    with `readOptimized = true` (a MOR snapshot read would need
  *    log-file merging);
  *  - `.deltacommit` instants in a COPY_ON_WRITE timeline are refused
  *    (malformed table);
  *  - malformed commit JSON, a missing `.hoodie`, or an unknown
  *    `asOfInstant` throw with the file named.
  */
object HudiCowLite {

  /** `fileInstants` maps each live base file to the LAST instant that
    * wrote it; `commits` is the replayed timeline's instants in order;
    * `hasReplace` flags a replacecommit anywhere in the replay (which
    * moves rows across file groups, defeating file-level incremental
    * pruning). */
  final case class Snapshot(instant: String, files: Seq[String],
                            fileInstants: Map[String, String] = Map.empty,
                            commits: Seq[String] = Nil,
                            hasReplace: Boolean = false,
                            groups: Map[(String, String), String] =
                              Map.empty)

  private implicit val fmts: Formats = DefaultFormats

  /** Replay the commit timeline up to (and including) `asOfInstant`,
    * or fully. Returns the live base-file set. `readOptimized` opts a
    * MERGE_ON_READ table into the read-optimized query mode (base
    * files only); it is a no-op on COPY_ON_WRITE, whose base files
    * ARE the data. */
  def snapshot(spark: SparkSession, tableDir: String,
               asOfInstant: Option[String] = None,
               readOptimized: Boolean = false): Snapshot = {
    val hoodieDir = new Path(tableDir, ".hoodie")
    val fs = hoodieDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hoodieDir))
      throw new IllegalStateException(s"$tableDir has no .hoodie directory")

    val props = new Path(hoodieDir, "hoodie.properties")
    val tableType: Option[String] =
      if (!fs.exists(props)) None
      else LakeFiles.readText(fs, props).linesIterator
        .map(_.trim).find(_.startsWith("hoodie.table.type="))
        .map(_.split("=", 2)(1).trim)
    tableType.foreach {
      case "COPY_ON_WRITE" =>
      case "MERGE_ON_READ" if readOptimized =>
      case "MERGE_ON_READ" => throw new IllegalStateException(
        s"$tableDir: hoodie.table.type=MERGE_ON_READ — the SNAPSHOT " +
          "query needs log-file merging: read through HudiMorLite, or " +
          "pass readOptimized=true for the base-files-only view")
      case t => throw new IllegalStateException(
        s"$tableDir: hoodie.table.type=$t unsupported")
    }
    val isMor = tableType.contains("MERGE_ON_READ")

    val names = fs.listStatus(hoodieDir).toSeq.map(_.getPath.getName)
    if (!isMor) names.find(_.endsWith(".deltacommit")).foreach { n =>
      throw new IllegalStateException(
        s"$tableDir: $n — deltacommit is a MERGE_ON_READ artifact " +
          "(malformed in a COPY_ON_WRITE timeline)")
    }
    // completed commits only: "<instant>.commit" / ".replacecommit"
    // (+ ".deltacommit" on MOR) exactly (inflight / requested markers
    // have further suffixes and are never read); instants are numeric
    // timestamps — order NUMERICALLY, not lexicographically
    // (lexicographic missorts "9" after "10" when widths vary)
    val commits: Seq[(String, String)] = names.collect {
      case n if n.matches("\\d+\\.commit") =>
        (n.stripSuffix(".commit"), "commit")
      case n if n.matches("\\d+\\.replacecommit") =>
        (n.stripSuffix(".replacecommit"), "replacecommit")
      case n if isMor && n.matches("\\d+\\.deltacommit") =>
        (n.stripSuffix(".deltacommit"), "deltacommit")
    }.sortBy(c => BigInt(c._1))
    if (commits.isEmpty)
      throw new IllegalStateException(s"$tableDir: no completed commits")
    val wanted = asOfInstant match {
      case Some(t) =>
        if (!commits.exists(_._1 == t)) throw new IllegalArgumentException(
          s"$tableDir: no completed commit at instant $t " +
            s"(have ${commits.map(_._1).mkString(", ")})")
        commits.takeWhile(c => BigInt(c._1) <= BigInt(t))
      case None => commits
    }

    // (partition, fileId) -> (base file path, writing instant); later
    // commits win
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (String, String)]
    for ((instant, kind) <- wanted) {
      val p = new Path(hoodieDir, s"$instant.$kind")
      val json = try JsonMethods.parse(LakeFiles.readText(fs, p))
        catch { case e: Exception => throw new IllegalStateException(
          s"$tableDir: malformed commit $instant: ${e.getMessage}")
        }
      // replacecommit: drop the replaced file groups FIRST, then add
      // the instant's replacement base files — never both generations
      if (kind == "replacecommit")
        (json \ "partitionToReplaceFileIds") match {
          case JObject(parts) => parts.foreach { case (part, ids) =>
            ids match {
              case JArray(arr) => arr.foreach { id =>
                groups.remove((part, id.extract[String])): Unit
              }
              case _ => throw new IllegalStateException(
                s"$tableDir: replacecommit $instant " +
                  s"partitionToReplaceFileIds[$part] is not an array")
            }
          }
          case _ => throw new IllegalStateException(
            s"$tableDir: replacecommit $instant has no " +
              "partitionToReplaceFileIds")
        }
      (json \ "partitionToWriteStats") match {
        case JObject(parts) => parts.foreach { case (part, stats) =>
          stats match {
            case JArray(ws) => ws.foreach { w =>
              val fileId = (w \ "fileId").extractOpt[String].getOrElse(
                throw new IllegalStateException(
                  s"$tableDir: commit $instant writeStat without fileId"))
              val path = (w \ "path").extractOpt[String].getOrElse(
                throw new IllegalStateException(
                  s"$tableDir: commit $instant writeStat without path"))
              // read-optimized contract: a deltacommit's LOG writes
              // are invisible (their rows surface at compaction); its
              // base-file writes (new-file-group inserts) count
              if (kind == "deltacommit" && !path.endsWith(".parquet") &&
                !path.endsWith(".orc")) ()
              else groups((part, fileId)) = (path, instant)
            }
            case _ => throw new IllegalStateException(
              s"$tableDir: commit $instant partitionToWriteStats[$part] " +
                "is not an array")
          }
        }
        case _ => throw new IllegalStateException(
          s"$tableDir: commit $instant has no partitionToWriteStats")
      }
    }
    Snapshot(wanted.last._1,
      groups.values.toSeq.map { case (p, _) => s"$tableDir/$p" },
      groups.values.map { case (p, i) => s"$tableDir/$p" -> i }.toMap,
      wanted.map(_._1),
      wanted.exists(_._2 == "replacecommit"),
      groups.map { case (g, (p, _)) => g -> s"$tableDir/$p" }.toMap)
  }

  /** Completed COMMIT instants in numeric order — the offset surface
    * for streaming reads. COW-only scope (the table-type gate runs via
    * `snapshot`'s own checks when batches resolve); bounded listing. */
  def completedCommits(spark: SparkSession, tableDir: String): Seq[String] = {
    val hoodieDir = new Path(tableDir, ".hoodie")
    val fs = hoodieDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hoodieDir))
      throw new IllegalStateException(s"$tableDir has no .hoodie directory")
    fs.listStatus(hoodieDir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("\\d+\\.commit") =>
        n.stripSuffix(".commit") }
      .sortBy(BigInt(_))
  }

  /** A completed commit's `extraMetadata` map (empty when absent) —
    * the surface Hudi's own streaming ingest (Hudi Streamer) uses for
    * its checkpoint keys, and [[HudiStreamSinkLite]]'s exactly-once
    * dedup record. */
  def extraMetadata(spark: SparkSession, tableDir: String,
                    instant: String): Map[String, String] = {
    val p = new Path(tableDir, s".hoodie/$instant.commit")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw new IllegalStateException(
      s"$tableDir: no completed commit at instant $instant")
    (JsonMethods.parse(LakeFiles.readText(fs, p)) \ "extraMetadata") match {
      case JObject(kvs) => kvs.collect {
        case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  /** DataFrame over the snapshot's base files — one native parquet
    * scan (COW base files carry every column; on MOR the same holds
    * for the read-optimized view). */
  def read(spark: SparkSession, tableDir: String,
           asOfInstant: Option[String] = None,
           readOptimized: Boolean = false): DataFrame = {
    val snap = snapshot(spark, tableDir, asOfInstant, readOptimized)
    // a commit with empty partitionToWriteStats resolves to zero files;
    // spark.read.parquet() with no paths dies with an opaque schema
    // error — refuse loudly instead (COW carries no schema store to
    // type an empty frame from)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: snapshot at ${snap.instant} resolves to zero base " +
        "files (empty partitionToWriteStats) — nothing to read")
    // Hudi base files are parquet or ORC
    // (hoodie.table.base.file.format=ORC is a real deployment); one
    // homogeneous vectorized scan either way, mixed sets refused
    ColumnarScan(spark, tableDir, None, snap.files)
  }

  /** INCREMENTAL query (Hudi's documented
    * `hoodie.datasource.query.type=incremental` with begin/end
    * instant times): the rows WRITTEN by commits in
    * (`beginInstant`, `endInstant`] — i.e. `_hoodie_commit_time`
    * strictly after begin and at most end, begin exclusive per the
    * published contract. COW scope (a MOR snapshot-incremental needs
    * log merging — refused via the table-type gate).
    *
    * Scale shape: file groups UNTOUCHED in the range are pruned from
    * the scan up front (each group's live file knows its last writing
    * instant), so a thousand-commit table reads only the range's
    * files; when a replacecommit (clustering) is in the replay, rows
    * may have MOVED across groups, so the scan widens to the full
    * snapshot and the `_hoodie_commit_time` predicate — pushed to the
    * parquet scan — does the pruning via row-group statistics
    * instead. Instants compare as strings (real Hudi instants are
    * fixed-width timestamps); a mixed-width timeline would missort
    * and refuses loudly. Base files without `_hoodie_commit_time`
    * refuse (the filter would silently drop everything). */
  def readIncremental(spark: SparkSession, tableDir: String,
                      beginInstant: String,
                      endInstant: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = snapshot(spark, tableDir, endInstant)
    val end = snap.instant
    val widths = (snap.commits :+ beginInstant).map(_.length).distinct
    if (widths.size > 1) throw new IllegalStateException(
      s"$tableDir: timeline instants have mixed widths " +
        s"(${widths.sorted.mkString(", ")}) — string-ordered " +
        "incremental bounds would missort; outside HudiCowLite scope")
    if (BigInt(beginInstant) >= BigInt(end))
      throw new IllegalArgumentException(
        s"$tableDir: beginInstant $beginInstant is not before the " +
          s"end instant $end — empty incremental range")
    val inRange = snap.commits
      .filter(c => BigInt(c) > BigInt(beginInstant)).toSet
    val files =
      if (snap.hasReplace) snap.files
      else snap.files.filter(f => inRange.contains(snap.fileInstants(f)))
    if (files.isEmpty) throw new IllegalStateException(
      s"$tableDir: no base file was written in ($beginInstant, $end] — " +
        "nothing to read (COW carries no schema store to type an " +
        "empty frame from)")
    val df = ColumnarScan(spark, tableDir, None, files)
    if (!df.columns.contains("_hoodie_commit_time"))
      throw new IllegalStateException(
        s"$tableDir: base files carry no _hoodie_commit_time — cannot " +
          "bound the incremental read (populateMetaFields=false tables " +
          "are outside scope)")
    df.filter(col("_hoodie_commit_time") > lit(beginInstant) &&
      col("_hoodie_commit_time") <= lit(end))
  }

  /** ROW-LEVEL CHANGE read — Hudi's CDC query shape
    * (`hoodie.datasource.query.incremental.format=cdc`). Two paths
    * per commit, the format's own precedence:
    *
    *  - EXACT: a write stat that carries `cdcStats` (RFC-51 — the
    *    writer persisted CDC log files with the before/after row
    *    images) serves ITS FILE GROUP's changes from the WRITTEN
    *    changelog: the files' CDC blocks decode executor-side
    *    ([[HudiMorLite.decodeCdcFile]]) and the JSON images parse
    *    under the table schema (FAILFAST). The written record is
    *    authoritative — a key rewritten with an unchanged value is an
    *    update HERE but invisible to a diff. CDC files are PER FILE
    *    GROUP, so the exact leg covers only the groups that logged
    *    them.
    *  - INFERRED for the commit's OTHER touched groups (and wholly
    *    cdc-less commits) — e.g. insert-only new groups, which write
    *    no CDC file — the op-inference variant the format specifies
    *    for `cdc.supplemental.logging.mode=op_key_only`: COW rewrites
    *    a whole file per touched file group, so each group's changes
    *    ARE the record-key diff between its new file and its
    *    previous one.
    *
    * Output = data columns (hoodie meta columns
    * stripped) + `_change_type` ('insert' / 'delete' /
    * 'update_preimage' / 'update_postimage') + `_commit_time` (the
    * producing instant).
    *
    * Per in-range commit: groups REWRITTEN at the commit full-outer
    * join old-vs-new on `_hoodie_record_key` (new-only key → insert,
    * old-only → delete with the before image, both with changed data
    * → pre+post images; unchanged keys silent); groups NEW at the
    * commit emit as inserts without a join. Scale shape: each commit
    * scans only its touched groups' two file versions — bounded by
    * write volume, never table size; the timeline replay is bounded
    * commit-JSON metadata.
    *
    * Loud refusals: MOR tables (the snapshot gate — log merging);
    * a replacecommit in range (clustering moves rows without changing
    * them — not a data change, and the group-grain diff cannot tell a
    * move from churn); a file group that DISAPPEARS without a
    * replacecommit (cleaner artifacts); base files without
    * `_hoodie_record_key` (populateMetaFields=false — no key to diff
    * on). */
  def readChanges(spark: SparkSession, tableDir: String,
                  beginInstant: String,
                  endInstant: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val snapEnd = snapshot(spark, tableDir, endInstant)
    val end = snapEnd.instant
    val widths = (snapEnd.commits :+ beginInstant).map(_.length).distinct
    if (widths.size > 1) throw new IllegalStateException(
      s"$tableDir: timeline instants have mixed widths " +
        s"(${widths.sorted.mkString(", ")}) — string-ordered " +
        "incremental bounds would missort; outside HudiCowLite scope")
    if (BigInt(beginInstant) >= BigInt(end))
      throw new IllegalArgumentException(
        s"$tableDir: beginInstant $beginInstant is not before the " +
          s"end instant $end — empty change range")
    val all = snapEnd.commits
    val inRange = all.filter(c => BigInt(c) > BigInt(beginInstant))
    val hoodieDir = new Path(tableDir, ".hoodie")
    val fs = hoodieDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (c <- inRange)
      if (fs.exists(new Path(hoodieDir, s"$c.replacecommit")))
        throw new IllegalStateException(
          s"$tableDir: replacecommit $c in ($beginInstant, $end] — " +
            "clustering moves rows without changing them; not a data " +
            "change, outside the CDC read")
    val perCommit = inRange.map { c =>
      val idx = all.indexOf(c)
      val prevGroups =
        if (idx == 0) Map.empty[(String, String), String]
        else snapshot(spark, tableDir, Some(all(idx - 1))).groups
      (c, prevGroups, snapshot(spark, tableDir, Some(c)).groups)
    }
    val metaCols = Set("_hoodie_commit_time", "_hoodie_commit_seqno",
      "_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name")
    def needKey(df: DataFrame): DataFrame = {
      if (!df.columns.contains("_hoodie_record_key"))
        throw new IllegalStateException(
          s"$tableDir: base files carry no _hoodie_record_key — " +
            "cannot diff changes (populateMetaFields=false tables are " +
            "outside scope)")
      df
    }
    // a commit whose write stats carry cdcStats (RFC-51: the writer
    // persisted exact CDC log files) serves the WRITTEN changelog —
    // the inferred file diff is only the fallback for cdc-less
    // commits. The written record is authoritative: e.g. a key
    // rewritten with an UNCHANGED value appears in the written CDC
    // as an update but is invisible to a value diff.
    // RFC-51 CDC files are PER FILE GROUP: each write stat that
    // logged CDC carries its own cdcStats. Key the CDC files by
    // (partition, fileId) so the exact leg covers exactly the groups
    // the writer logged — a commit that also creates insert-only
    // groups (which write no CDC file) keeps those on the inferred
    // diff instead of silently losing them.
    def cdcStatsOf(c: String): Map[(String, String), Seq[String]] =
      Seq("commit", "deltacommit")
        .map(k => new Path(hoodieDir, s"$c.$k")).find(fs.exists)
        .toSeq.flatMap { p =>
          (JsonMethods.parse(LakeFiles.readText(fs, p)) \
            "partitionToWriteStats") match {
            case JObject(parts) => parts.flatMap {
              case (part, JArray(stats)) => stats.flatMap { st =>
                (st \ "cdcStats") match {
                  case JObject(m) if m.nonEmpty =>
                    val fid = (st \ "fileId").extractOpt[String]
                      .getOrElse(throw new IllegalStateException(
                        s"$tableDir: commit $c has cdcStats on a " +
                          "writeStat without a fileId"))
                    Seq((part, fid) -> m.map(_._1))
                  case _ => Nil
                }
              }
              case _ => Nil
            }
            case _ => Nil
          }
        }.toMap
    def exactCdcLeg(c: String, cdcFiles: Seq[String],
                    curG: Map[(String, String), String]): DataFrame = {
      import spark.implicits._
      val schemaDf = ColumnarScan(spark, tableDir, None,
        curG.values.toSeq.sorted)
      val dataCols = schemaDf.columns.filterNot(metaCols).toSeq
      val rowSchema = org.apache.spark.sql.types.StructType(
        schemaDf.schema.fields.filter(f => dataCols.contains(f.name)))
      val abs = cdcFiles.map(rel => s"$tableDir/$rel").sorted
      // executor-side block decode, partition-parallel over files
      val raw = spark.sparkContext
        .parallelize(abs, math.max(1, math.min(abs.size, 32)))
        .flatMap(p => HudiMorLite.decodeCdcFile(p))
        .toDF("op", "before", "after")
      val opts = Map("mode" -> "FAILFAST")
      def leg(opv: String, side: String, kind: String): DataFrame =
        raw.filter(col("op") === opv)
          .filter(when(col(side).isNull, raise_error(lit(
            s"$tableDir commit $c: a CDC '$opv' record lacks its " +
              s"$side image")).isNull).otherwise(lit(true)))
          .select(from_json(col(side), rowSchema, opts).as("_img"))
          .select(dataCols.map(n => col(s"_img.$n").as(n)) :+
            lit(kind).as("_change_type"): _*)
      Seq(leg("i", "after", "insert"), leg("d", "before", "delete"),
        leg("u", "before", "update_preimage"),
        leg("u", "after", "update_postimage")).reduce(_ unionAll _)
    }
    val legs = perCommit.flatMap { case (c, prevG, curG) =>
      val gone = prevG.keySet -- curG.keySet
      if (gone.nonEmpty) throw new IllegalStateException(
        s"$tableDir: file group ${gone.head} disappears at commit $c " +
          "without a replacecommit — cannot attribute its rows")
      val cdcByGroup = cdcStatsOf(c)
      val exactLeg =
        if (cdcByGroup.isEmpty) None
        else Some(exactCdcLeg(c,
          cdcByGroup.values.flatten.toSeq.distinct.sorted, curG))
      // the inferred diff covers the commit's remaining touched
      // groups — groups the writer logged CDC for are served by the
      // written record only (authoritative, and a second diff leg
      // would double-count them)
      val touched = curG.filter { case (g, p) =>
        !prevG.get(g).contains(p) && !cdcByGroup.contains(g) }
      val inferredLeg = if (touched.isEmpty) None
      else {
        val rewritten = touched.filter { case (g, _) => prevG.contains(g) }
        val fresh = touched.filterNot { case (g, _) => prevG.contains(g) }
        val inserts =
          if (fresh.isEmpty) None
          else {
            val df = needKey(ColumnarScan(spark, tableDir, None,
              fresh.values.toSeq.sorted))
            val dataCols = df.columns.filterNot(metaCols).toSeq
            Some(df.select(dataCols.map(col): _*)
              .withColumn("_change_type", lit("insert")))
          }
        val diffs =
          if (rewritten.isEmpty) None
          else {
            val newDf = needKey(ColumnarScan(spark, tableDir, None,
              rewritten.values.toSeq.sorted))
            val oldDf = needKey(ColumnarScan(spark, tableDir, None,
              rewritten.keys.map(prevG).toSeq.sorted))
            val dataCols = newDf.columns.filterNot(metaCols).toSeq
            val key = "_hoodie_record_key"
            val n = newDf.select((key +: dataCols).map(x =>
              col(x).as(s"_n_$x")): _*)
            val o = oldDf.select((key +: dataCols).map(x =>
              col(x).as(s"_o_$x")): _*)
            val joined = n.join(o, col(s"_n_$key") <=> col(s"_o_$key"),
              "full_outer")
            // record keys are non-null: a null side marks absence
            val hasN = col(s"_n_$key").isNotNull
            val hasO = col(s"_o_$key").isNotNull
            val changed = !(struct(dataCols.map(x => col(s"_n_$x")): _*)
              <=> struct(dataCols.map(x => col(s"_o_$x")): _*))
            def side(p: String, kind: Column, keep: Column): DataFrame =
              joined.filter(keep).select(
                dataCols.map(x => col(s"${p}_$x").as(x)) :+
                  kind.as("_change_type"): _*)
            Some(side("_o", when(hasN, "update_preimage")
              .otherwise("delete"), hasO && (!hasN || changed))
              .unionByName(side("_n", when(hasO, "update_postimage")
                .otherwise("insert"), hasN && (!hasO || changed))))
          }
        Seq(inserts, diffs).flatten.reduceOption(_ unionAll _)
      }
      Seq(exactLeg, inferredLeg).flatten.reduceOption(_ unionAll _)
        .map(_.withColumn("_commit_time", lit(c)))
    }
    if (legs.isEmpty) throw new IllegalStateException(
      s"$tableDir: no commit in ($beginInstant, $end] touched any " +
        "file group — nothing to read (COW carries no schema store " +
        "to type an empty frame from)")
    legs.reduce(_ unionAll _)
  }

  /** CLUSTERING (Hudi's replacecommit flow, the format's OPTIMIZE):
    * pack every live file group's rows into `numFiles` fresh base
    * files under new file groups and publish ONE replacecommit that
    * replaces all prior groups — rows keep their original
    * `_hoodie_commit_time`, so the incremental query's
    * widened-scan-plus-commit-filter path (the [[readIncremental]]
    * `hasReplace` branch) still serves ranges correctly, and the CDC
    * read keeps refusing ranges that cross it (clustering is not a
    * data change). Returns the new instant.
    *
    * Scale shape: one distributed scan + executor parquet write, then
    * O(files) renames + footer reads and one JSON write.
    * Single-writer scope. Loud refusals: MOR tables (the snapshot
    * gate); multi-partition tables without the
    * `_hoodie_partition_path` meta column (row→partition attribution
    * needs it — Hudi populates it unless
    * hoodie.populate.meta.fields=false). */
  def cluster(spark: SparkSession, tableDir: String,
              numFiles: Int = 1): String = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val snap = snapshot(spark, tableDir)
    val parts = snap.groups.keys.map(_._1).toSet
    val instant = mintInstant(tableDir, snap.commits, snap.instant)
    val moved = clusterWrite(spark, tableDir, read(spark, tableDir),
      parts, instant, numFiles)
    val byPart = moved.groupBy(_._1)
    val replacedByPart = snap.groups.keys.toSeq.groupBy(_._1)
      .map { case (p, ks) => p -> ks.map(_._2).sorted }
    val partitions = (byPart.keySet ++ replacedByPart.keySet).toSeq.sorted
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicFiles.write(fs,
      new Path(tableDir, s".hoodie/$instant.replacecommit"),
      replaceCommitJson(partitions,
        p => replacedByPart.getOrElse(p, Nil),
        p => byPart.getOrElse(p, Nil).map(m => (m._2, m._3, m._4))),
      replace = false)
    instant
  }

  private[sources] val MetaColumns = Set("_hoodie_commit_time",
    "_hoodie_commit_seqno", "_hoodie_record_key",
    "_hoodie_partition_path", "_hoodie_file_name")

  /** The "/"-rooted join spelling shared with [[MetaPaths.decoded]] —
    * a file:-qualified tableDir must key file identity identically on
    * both sides or rows silently mis-route. */
  private[sources] def normPath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  /** UPSERT by `_hoodie_record_key` — the COW write path (Hudi's
    * default `upsert` operation, the write twin of [[readChanges]]):
    * every file group holding an updated key is REWRITTEN at a fresh
    * instant (survivors keep their original `_hoodie_commit_time`,
    * updated rows stamp the new one — exactly the record-grain
    * freshness Hudi's meta columns carry), and keys new to the table
    * land in ONE new file group per partition. Publishes
    * `<instant>.commit` whose partitionToWriteStats names every
    * written base file. Returns the new instant.
    *
    * `updates` must carry `_hoodie_record_key` plus every data
    * column; multi-partition tables also need
    * `_hoodie_partition_path` to route NEW keys (existing keys keep
    * their group's partition). `writeCdc=true` additionally persists
    * the RFC-51 changelog: each rewritten group gets a CDC log file
    * of 'u' records with before/after JSON images and its write stat
    * carries `cdcStats` — so [[readChanges]] serves the WRITTEN
    * record (unchanged-value rewrites included, which the inferred
    * diff cannot see).
    *
    * Scale shape: route/merge/write is ONE distributed plan (updates
    * join the key→group scan, survivors anti-join the update keys,
    * one shuffle on the target group id); the driver handles only the
    * bounded touched-group list, footer row counts and the commit
    * JSON. CDC logs write EXECUTOR-side per group. Single-writer
    * scope. Loud refusals: MOR tables (snapshot gate), duplicate keys
    * in one batch (ambiguous last-writer), a key living in MULTIPLE
    * file groups (keys are only unique per partition under the
    * non-global index — a key-only route would duplicate the row into
    * every matching group), key-less base files, missing data
    * columns. */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
             writeCdc: Boolean = false): String = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val snap = snapshot(spark, tableDir)
    val instant = mintInstant(tableDir, snap.commits, snap.instant)
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = "_hoodie_record_key"
    if (!updates.columns.contains(key)) throw new IllegalStateException(
      s"$tableDir: upsert input carries no $key column")
    val cur0 = ColumnarScan(spark, tableDir, None, snap.files)
    if (!cur0.columns.contains(key)) throw new IllegalStateException(
      s"$tableDir: base files carry no $key — " +
        "populateMetaFields=false tables are outside upsert scope")
    val tableCols = cur0.columns.toSeq
    val dataCols = tableCols.filterNot(MetaColumns)
    val missing = dataCols.filterNot(updates.columns.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"$tableDir: upsert input lacks data columns " +
        missing.mkString(", "))
    val parts = snap.groups.keys.map(_._1).toSet
    val multi = parts.size > 1
    if (multi && !updates.columns.contains("_hoodie_partition_path"))
      throw new IllegalStateException(
        s"$tableDir: ${parts.size} partitions but the upsert input " +
          "has no _hoodie_partition_path — cannot route NEW keys")
    val pathToGroup: Map[String, (String, String)] =
      snap.groups.map { case (g, p) => normPath(p) -> g }
    val cur = cur0.withColumn("_g_path",
      MetaPaths.decoded(col("_metadata.file_path")))
    // route each update key to its current group. Record keys are
    // only unique PER PARTITION under Hudi's default (non-global)
    // index, so a key living in TWO partitions fans the join out —
    // the same ONE bounded aggregate that catches duplicate keys in
    // the batch catches the fan-out (either way a key yields >1
    // routed row), replacing the old separate pre-flight scan of the
    // updates input
    val routed = updates.join(
      cur.select(col(key).as("_uk"), col("_g_path")),
      updates(key) === col("_uk"), "left").drop("_uk")
    val ambiguous = routed.groupBy(col(key))
      .agg(count(lit(1)).as("_nrows"),
        countDistinct(col("_g_path")).as("_ngroups"))
      .filter(col("_nrows") > 1)
      .select(col(key), col("_ngroups")).limit(1).collect()
    ambiguous.headOption.foreach { r =>
      if (r.getLong(1) > 1L) throw new IllegalStateException(
        s"$tableDir: record key ${r.get(0)} lives in MULTIPLE file " +
          "groups (record keys are only unique per partition under " +
          "the non-global index) — a key-only upsert would write the " +
          "row into every matching group; route by partition instead")
      else throw new IllegalStateException(
        s"$tableDir: upsert batch has DUPLICATE record keys " +
          s"(e.g. ${r.get(0)}) — last-writer order would be ambiguous")
    }
    // bounded driver work: the touched FILE list, never row volume
    val touchedPaths = routed.where(col("_g_path").isNotNull)
      .select("_g_path").distinct().as[String].collect().sorted
    touchedPaths.foreach { p =>
      if (!pathToGroup.contains(p)) throw new IllegalStateException(
        s"$tableDir: matched file $p is not in the snapshot — " +
          "file-identity mismatch")
    }
    val newPartExpr =
      if (multi) col("_hoodie_partition_path")
      else lit(parts.headOption.getOrElse(""))
    val newParts = routed.where(col("_g_path").isNull)
      .select(newPartExpr.as("_p")).distinct().as[String]
      .collect().sorted
    if (multi && newParts.exists(p => p == null || p.isEmpty))
      throw new IllegalStateException(
        s"$tableDir: a NEW key routes to a null/empty partition " +
          "path on a multi-partition table — outside upsert scope")
    val newFidByPart: Map[String, String] =
      newParts.zipWithIndex.map { case (p, i) =>
        p -> s"u$instant-$i" }.toMap
    val gidPartDf = (
      pathToGroup.toSeq.map { case (p, (part, fid)) => (p, part, fid) })
      .toDF("_g_path", "_g_part", "_g_fid")
    val newFidDf = newFidByPart.toSeq.toDF("_n_part", "_n_fid")
    def stampTo(df: DataFrame, partCol: org.apache.spark.sql.Column,
                fidCol: org.apache.spark.sql.Column): DataFrame =
      df.select(tableCols.map {
        case "_hoodie_commit_time" => lit(instant)
          .as("_hoodie_commit_time")
        case "_hoodie_record_key" => col(key).cast("string").as(key)
        case "_hoodie_partition_path" => partCol
          .as("_hoodie_partition_path")
        case "_hoodie_commit_seqno" => lit(s"${instant}_0_0")
          .as("_hoodie_commit_seqno")
        case "_hoodie_file_name" => concat(fidCol,
          lit(s"_0-0_$instant.parquet")).as("_hoodie_file_name")
        case c => col(c).cast(cur0.schema(c).dataType).as(c)
      } :+ fidCol.as("_gid"): _*)
    val updExisting = stampTo(
      routed.where(col("_g_path").isNotNull)
        .join(broadcast(gidPartDf), "_g_path"),
      col("_g_part"), col("_g_fid"))
    val updNew = stampTo(
      routed.where(col("_g_path").isNull).withColumn("_n_part",
        newPartExpr).join(broadcast(newFidDf), "_n_part"),
      col("_n_part"), col("_n_fid"))
    val touchedDf = touchedPaths.map(p =>
      (p, pathToGroup(p)._2)).toSeq.toDF("_g_path", "_g_fid")
    val touchedCur = cur.join(broadcast(touchedDf), "_g_path")
    val survivors = touchedCur
      .join(updates.select(col(key).as("_uk")),
        col(key) === col("_uk"), "left_anti")
      .select(tableCols.map(col) :+ col("_g_fid").as("_gid"): _*)
    val merged = updExisting.unionByName(updNew)
      .unionByName(survivors)
    val gidToPart: Map[String, String] =
      pathToGroup.collect { case (p, (part, fid))
        if touchedPaths.contains(p) => fid -> part } ++
        newFidByPart.map(_.swap)
    val moved = writeGroups(spark, tableDir, merged, gidToPart, instant)
    // per-group CDC logs (RFC-51): 'u' records with before/after
    // JSON images of the DATA columns, written executor-side
    val cdcByFid: Map[String, String] =
      if (!writeCdc || touchedPaths.isEmpty) Map.empty
      else {
        val before = touchedCur
          .join(updates.select(col(key).as("_uk")),
            col(key) === col("_uk"), "left_semi")
          .select(col("_g_fid").as("_gid"), col(key).as("_ck"),
            to_json(struct(dataCols.map(col): _*)).as("_before"))
        val after = updExisting
          .select(col("_gid").as("_gid2"), col(key).as("_ck2"),
            to_json(struct(dataCols.map(col): _*)).as("_after"))
        val pairs = before.join(after,
          col("_gid") === col("_gid2") && col("_ck") === col("_ck2"))
          .select(col("_gid"), col("_before"), col("_after"))
        val gidToPartB = spark.sparkContext.broadcast(gidToPart)
        // session hadoop conf into the executor closure —
        // spark.hadoop.*-borne credentials must reach the log writes
        val confB = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        val tableDirB = tableDir
        val instantB = instant
        pairs.as[(String, String, String)].groupByKey(_._1)
          .mapGroups { (gid, it) =>
            val recs = it.map { case (_, b, a) =>
              Map[String, Any]("op" -> "u", "before" -> b, "after" -> a)
            }.toSeq
            val part = gidToPartB.value(gid)
            val rel = (if (part.isEmpty) "" else s"$part/") +
              s".${gid}_cdc_$instantB.log.1"
            HudiMorLite.writeLogFile(s"$tableDirB/$rel",
              Seq(HudiMorLite.CdcSchema -> recs),
              blockType = HudiMorLite.CdcDataBlockOrdinal,
              conf = confB.value.value)
            (gid, rel)
          }.collect().toMap
      }
    commitJson(spark, tableDir, fs, instant, moved, cdcByFid)
    instant
  }

  /** ROW-LEVEL DELETE by predicate — the COW delete path: every file
    * group holding matching rows is rewritten WITHOUT them (a group
    * whose rows ALL match is advanced to an EMPTY base file — the
    * group stays, its rows are gone; dropping the group outright is a
    * replacecommit, which is clustering's move, not a data change).
    * [[readChanges]]' inferred diff then reports exactly the deleted
    * rows (old-only keys) with their before images. Returns the new
    * instant — the CURRENT one, with no commit, when nothing matched.
    * Scale/refusal envelope shared with [[upsert]]. */
  def delete(spark: SparkSession, tableDir: String,
             condition: Column): String = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val snap = snapshot(spark, tableDir)
    val instant = mintInstant(tableDir, snap.commits, snap.instant)
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur0 = ColumnarScan(spark, tableDir, None, snap.files)
    if (!cur0.columns.contains("_hoodie_record_key"))
      throw new IllegalStateException(
        s"$tableDir: base files carry no _hoodie_record_key — " +
          "populateMetaFields=false tables are outside delete scope")
    val tableCols = cur0.columns.toSeq
    val pathToGroup: Map[String, (String, String)] =
      snap.groups.map { case (g, p) => normPath(p) -> g }
    val cur = cur0.withColumn("_g_path",
      MetaPaths.decoded(col("_metadata.file_path")))
    val touchedPaths = cur.filter(condition).select("_g_path")
      .distinct().as[String].collect().sorted
    if (touchedPaths.isEmpty) return snap.instant
    touchedPaths.foreach { p =>
      if (!pathToGroup.contains(p)) throw new IllegalStateException(
        s"$tableDir: matched file $p is not in the snapshot — " +
          "file-identity mismatch")
    }
    val touchedDf = touchedPaths.map(p =>
      (p, pathToGroup(p)._2)).toSeq.toDF("_g_path", "_g_fid")
    // DELETE WHERE semantics: only rows where the predicate is TRUE
    // die — a NULL predicate keeps its row (plain !condition would
    // silently delete it)
    val survivors = cur.join(broadcast(touchedDf), "_g_path")
      .filter(!coalesce(condition, lit(false)))
      .select(tableCols.map(col) :+ col("_g_fid").as("_gid"): _*)
    val gidToPart: Map[String, String] =
      pathToGroup.collect { case (p, (part, fid))
        if touchedPaths.contains(p) => fid -> part }.toMap
    val written = writeGroups(spark, tableDir, survivors, gidToPart,
      instant)
    // a fully-deleted group emits no staging file — advance it with
    // an EMPTY base (bounded by the dead-group count)
    val writtenFids = written.map(_._2).toSet
    val empties = emptyBases(spark, tableDir, fs, cur0.schema,
      gidToPart.keySet.diff(writtenFids).toSeq.sorted, gidToPart,
      instant)
    commitJson(spark, tableDir, fs, instant, written ++ empties,
      Map.empty)
    instant
  }

  /** Advance fully-dead file groups to EMPTY base files (the group
    * stays, its rows are gone — dropping a group outright is a
    * replacecommit, i.e. clustering, not a data change). ONE empty
    * parquet is staged by a single job and FS-COPIED to each dead
    * group — O(dead groups) bounded metadata ops, never a Spark job
    * per group. Shared by [[delete]] and
    * [[HudiMorLite.compactLogs]]. */
  private[sources] def emptyBases(spark: SparkSession, tableDir: String,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  schema: org.apache.spark.sql.types.StructType,
                                  fids: Seq[String],
                                  gidToPart: Map[String, String],
                                  instant: String)
  : Seq[(String, String, String, Long)] = {
    if (fids.isEmpty) return Nil
    val tmp = new Path(tableDir, "_tmp_emptybase")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val src = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith(".")).getOrElse(
        throw new IllegalStateException(
          s"$tableDir: empty-base staging produced no parquet"))
    val out = fids.map { fid =>
      val part = gidToPart.getOrElse(fid,
        throw new IllegalStateException(
          s"$tableDir: dead group $fid has no partition mapping"))
      val rel = (if (part.isEmpty) "" else s"$part/") +
        s"${fid}_0-0_$instant.parquet"
      val dest = new Path(tableDir, rel)
      fs.mkdirs(dest.getParent)
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dest, false,
        spark.sparkContext.hadoopConfiguration))
        throw new IllegalStateException(
          s"$tableDir: could not place $rel")
      (part, fid, rel, 0L)
    }
    fs.delete(tmp, true)
    out
  }

  /** ROW-LEVEL UPDATE by predicate on COPY_ON_WRITE — composed over
    * [[upsert]]: rows matching `condition` rewrite with `set` applied
    * and upsert back under their own record keys (their file groups
    * rewrite, survivors keep their commit times — the COW write
    * economics). SET on a hoodie meta column or an unknown column
    * refuses. Returns the new instant — the CURRENT one, with no
    * commit, when nothing matched. */
  def update(spark: SparkSession, tableDir: String, condition: Column,
             set: Map[String, Column]): String = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(spark, tableDir)
    val cur = read(spark, tableDir)
    require(set.nonEmpty, "update needs at least one SET column")
    set.keys.foreach { c =>
      if (!cur.columns.contains(c)) throw new IllegalStateException(
        s"$tableDir: SET column $c is not in the schema")
      if (MetaColumns.contains(c)) throw new IllegalStateException(
        s"$tableDir: SET touches hoodie meta column $c — outside " +
          "update scope")
    }
    val matched = cur.filter(condition)
    if (matched.limit(1).count() == 0) return snap.instant
    val updated = set.foldLeft(matched) { case (df, (c, e)) =>
      df.withColumn(c, e.cast(cur.schema(c).dataType))
    }
    upsert(spark, tableDir,
      updated.select(cur.columns.map(col).toSeq: _*))
  }

  /** Shared group-grain rewrite write: `rows` carry the full table
    * schema plus a `_gid` target-group column; one shuffle on `_gid`,
    * a `partitionBy` staging write, then O(groups) moves into each
    * group's partition directory + footer row counts. Returns
    * (partition, fileId, relative path, numWrites) per written
    * file. */
  private[sources] def writeGroups(spark: SparkSession, tableDir: String,
                          rows: DataFrame,
                          gidToPart: Map[String, String],
                          instant: String)
  : Seq[(String, String, String, Long)] = {
    import org.apache.spark.sql.functions.col
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(tableDir, "_tmp_write")
    rows.repartition(col("_gid")).write.mode("overwrite")
      .partitionBy("_gid").parquet(tmp.toString)
    val moved = fs.listStatus(tmp).toSeq.sortBy(_.getPath.getName)
      .flatMap { dir =>
        val n = dir.getPath.getName
        if (!dir.isDirectory || !n.startsWith("_gid=")) Nil
        else {
          val fid = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(n.stripPrefix("_gid="))
          val files = fs.listStatus(dir.getPath).toSeq
            .map(_.getPath)
            .filter(p => p.getName.endsWith(".parquet") &&
              !p.getName.startsWith("."))
          if (files.size != 1) throw new IllegalStateException(
            s"$tableDir: group $fid staged ${files.size} files — " +
              "expected exactly one after the _gid shuffle")
          val part = gidToPart.getOrElse(fid,
            throw new IllegalStateException(
              s"$tableDir: staged group $fid has no partition mapping"))
          val rel = (if (part.isEmpty) "" else s"$part/") +
            s"${fid}_0-0_$instant.parquet"
          val dest = new Path(tableDir, rel)
          LakeFiles.move(fs, files.head, dest)
          val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              dest, spark.sparkContext.hadoopConfiguration))
          val rc = try footer.getRecordCount finally footer.close()
          Seq((part, fid, rel, rc))
        }
      }
    fs.delete(tmp, true)
    moved
  }

  /** Render + publish `<instant>.commit` for the write paths (shared
    * with [[HudiMorLite.compactLogs]]): partitionToWriteStats grouped
    * by partition, each stat carrying fileId/path/numWrites and —
    * when the writer persisted CDC — its `cdcStats`. */
  private[sources] def commitJson(spark: SparkSession, tableDir: String,
                         fs: org.apache.hadoop.fs.FileSystem,
                         instant: String,
                         written: Seq[(String, String, String, Long)],
                         cdcByFid: Map[String, String],
                         kind: String = "commit"): Unit = {
    val byPart = written.groupBy(_._1)
    val stats = byPart.toSeq.sortBy(_._1).map { case (part, ws) =>
      val arr = ws.sortBy(_._2).map { case (_, fid, rel, nw) =>
        s"""{"fileId":${jstr(fid)},"path":${jstr(rel)},"numWrites":$nw""" +
          cdcByFid.get(fid).map(rel2 =>
            s""","cdcStats":{${jstr(rel2)}:1}""").getOrElse("") + "}"
      }.mkString("[", ",", "]")
      s"${jstr(part)}:$arr"
    }.mkString("{", ",", "}")
    graft.sources.AtomicFiles.write(fs,
      new Path(tableDir, s".hoodie/$instant.$kind"),
      s"""{"partitionToWriteStats":$stats}""", replace = false)
  }

  /** Mint the next timeline instant under the fixed-width contract:
    * mixed-width timelines and width overflow refuse loudly
    * (string-ordered listings would missort). */
  private[sources] def mintInstant(tableDir: String,
                                   commits: Seq[String],
                                   last: String): String = {
    val width = commits.map(_.length).distinct match {
      case Seq(w) => w
      case ws => throw new IllegalStateException(
        s"$tableDir: timeline instants have mixed widths " +
          s"(${ws.sorted.mkString(", ")}) — cannot mint the next")
    }
    val s = (BigInt(last) + 1).toString
    if (s.length > width) throw new IllegalStateException(
      s"$tableDir: next instant $s overflows the timeline's " +
        s"$width-char width")
    ("0" * (width - s.length)) + s
  }

  /** The shared clustering write (COW + MOR): pack `merged` into
    * `numFiles` files per partition from ONE distributed scan and
    * move them into the table as new file groups. Single-partition
    * tables coalesce directly; multi-partition tables ride the
    * `_hoodie_partition_path` meta column through a salted
    * `partitionBy` staging write (refusing when the column is absent
    * — attribution would need a per-file map this scan does not
    * carry). Returns (partition, fileId, relative path, numWrites
    * from the parquet footer) per new file. */
  private[sources] def clusterWrite(spark: SparkSession,
                                    tableDir: String,
                                    merged: DataFrame,
                                    parts: Set[String], instant: String,
                                    numFiles: Int)
    : Seq[(String, String, String, Long)] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(tableDir, "_tmp_cluster")
    val multi = parts.size > 1
    if (multi) {
      if (parts.contains("")) throw new IllegalStateException(
        s"$tableDir: a multi-partition table with an EMPTY partition " +
          "path — outside lite clustering scope")
      if (!merged.columns.contains("_hoodie_partition_path"))
        throw new IllegalStateException(
          s"$tableDir: ${parts.size} partitions but no " +
            "_hoodie_partition_path meta column — cannot attribute " +
            "rows to partitions for per-partition packing")
      // deterministic salt: a retry-recomputed
      // monotonically_increasing_id can silently duplicate/drop rows
      // mid-shuffle (SPARK-23207 class) — fatal in a table rewrite
      merged
        .withColumn("gpart", col("_hoodie_partition_path"))
        .withColumn("_graft_bin",
          pmod(xxhash64(merged.columns.map(col).toSeq: _*),
            lit(numFiles.toLong)))
        .repartition(col("gpart"), col("_graft_bin"))
        .drop("_graft_bin")
        .write.mode("overwrite").partitionBy("gpart")
        .parquet(tmp.toString)
    } else
      merged.coalesce(numFiles).write.mode("overwrite")
        .parquet(tmp.toString)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val outputs: Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      if (!multi)
        fs.listStatus(tmp).toSeq.sortBy(_.getPath.getName)
          .filter(st => st.getPath.getName.endsWith(".parquet") &&
            !st.getPath.getName.startsWith("."))
          .map(st => (parts.headOption.getOrElse(""), st))
      else fs.listStatus(tmp).toSeq.sortBy(_.getPath.getName).flatMap {
        dir =>
          val n = dir.getPath.getName
          if (!dir.isDirectory || !n.startsWith("gpart=")) Nil
          else {
            val raw = n.stripPrefix("gpart=")
            if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
              throw new IllegalStateException(
                s"$tableDir: clustering produced a null-partition " +
                  "directory — _hoodie_partition_path carried nulls")
            val part = ExternalCatalogUtils.unescapePathName(raw)
            fs.listStatus(dir.getPath).toSeq.sortBy(_.getPath.getName)
              .filter(st => st.getPath.getName.endsWith(".parquet") &&
                !st.getPath.getName.startsWith("."))
              .map(st => (part, st))
          }
      }
    val moved = outputs.zipWithIndex.map { case ((part, st), i) =>
      val fid = s"cl$instant-$i"
      val rel = (if (part.isEmpty) "" else s"$part/") +
        s"${fid}_0-0_$instant.parquet"
      val dest = new Path(tableDir, rel)
      LakeFiles.move(fs, st.getPath, dest)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          dest, spark.sparkContext.hadoopConfiguration))
      val rc = try footer.getRecordCount finally footer.close()
      (part, fid, rel, rc)
    }
    fs.delete(tmp, true)
    moved
  }

  /** Render a replacecommit's JSON for `partitions`, with the
    * replaced file ids and the (fileId, path, numWrites) write stats
    * supplied per partition. */
  private[sources] def replaceCommitJson(partitions: Seq[String],
      replaced: String => Seq[String],
      writes: String => Seq[(String, String, Long)]): String = {
    val repl = partitions.map { p =>
      s"${jstr(p)}:${replaced(p).map(jstr).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val stats = partitions.map { p =>
      val ws = writes(p).map { case (fid, rel, nw) =>
        s"""{"fileId":${jstr(fid)},"path":${jstr(rel)},"numWrites":$nw}"""
      }.mkString("[", ",", "]")
      s"${jstr(p)}:$ws"
    }.mkString("{", ",", "}")
    s"""{"partitionToReplaceFileIds":$repl,"partitionToWriteStats":$stats}"""
  }

  /** CLEAN (KEEP_LATEST_FILE_VERSIONS at retention 1 — the reclaim op
    * after upserts/clustering): delete every base file under the
    * table that the CURRENT snapshot does not reference — superseded
    * file-group versions and replaced groups. Time travel to instants
    * needing a cleaned file then fails at scan time, the documented
    * clean trade-off. A `<instant>.clean` marker lands on the
    * timeline (completed-commit listings ignore it — clean is not a
    * data commit). Hidden/underscore-prefixed entries and `.hoodie`
    * are never touched (MOR log files are dot-prefixed), and MOR
    * tables refuse through the snapshot gate. Returns deleted
    * paths. */
  def clean(spark: SparkSession, tableDir: String): Seq[String] = {
    val snap = snapshot(spark, tableDir)
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootQ = fs.makeQualified(root).toString
    val live = snap.files
      .map(p => fs.makeQualified(new Path(p)).toString).toSet
    // one recursive Hadoop listing (hdfs:// and object-store roots
    // clean exactly like file://, and at millions of files a remote
    // listing beats a driver-side java.io walk); hidden and
    // underscore-prefixed components (.hoodie, MOR dot-logs, staging
    // dirs) are never touched
    val candidates = Seq.newBuilder[Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val q = st.getPath.toString
      if (q.startsWith(rootQ + "/")) {
        val rel = q.stripPrefix(rootQ + "/")
        val comps = rel.split('/')
        if (comps.forall(c => !c.startsWith(".") && !c.startsWith("_")) &&
          (rel.endsWith(".parquet") || rel.endsWith(".orc")) &&
          !live.contains(q))
          candidates += st.getPath
      }
    }
    // a file that fails to delete refuses loudly — silently dropping
    // it from the returned list would report a clean that did not run
    val deleted = candidates.result().sortBy(_.toString).map { p =>
      if (!fs.delete(p, false)) throw new IllegalStateException(
        s"$tableDir: clean could not delete $p")
      Option(p.toUri.getScheme).filter(_ != "file")
        .map(_ => p.toString).getOrElse(p.toUri.getPath)
    }
    // same minting contract as cluster(): a mixed-width timeline or a
    // width-overflowing next instant would missort string-ordered
    // timeline listings — refuse loudly instead of padding past it
    val width = snap.commits.map(_.length).distinct match {
      case Seq(w) => w
      case ws => throw new IllegalStateException(
        s"$tableDir: timeline instants have mixed widths " +
          s"(${ws.sorted.mkString(", ")}) — cannot mint the next")
    }
    val next = {
      // mint past BOTH data commits and earlier clean markers
      val hoodieDir = new Path(tableDir, ".hoodie")
      val cleans = fs.listStatus(hoodieDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.matches("\\d+\\.clean") =>
          BigInt(n.stripSuffix(".clean")) }
      val s = ((cleans :+ BigInt(snap.instant)).max + 1).toString
      if (s.length > width) throw new IllegalStateException(
        s"$tableDir: next instant $s overflows the timeline's " +
          s"$width-char width")
      ("0" * (width - s.length)) + s
    }
    graft.sources.AtomicFiles.write(fs,
      new Path(tableDir, s".hoodie/$next.clean"),
      s"""{"policy":"KEEP_LATEST_FILE_VERSIONS","filesDeleted":${deleted.size}}""",
      replace = false)
    deleted
  }
}
