package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One entry point over all four lakehouse readers: point it at a
  * table directory and it DETECTS the format from the layout's own
  * unambiguous marker — `_delta_log/` (Delta), `metadata/` with
  * `v<N>.metadata.json` or `version-hint.text` (Iceberg), `.hoodie/`
  * (Hudi), `snapshot/` + `schema/` (Paimon) — then dispatches to
  * [[DeltaLogLite]] / [[IcebergLite]] / [[HudiCowLite]] /
  * [[PaimonLite]] with the shared time-travel surface. This is the
  * UX face of the reference's multi-provider layer (it registers
  * Iceberg/Hudi/Paimon convert providers side by side,
  * thirdparty/auron-*): a user migrating between formats keeps one
  * call.
  *
  * Loud failures: a directory matching NO marker names everything it
  * looked for; a directory matching MORE THAN ONE (a corrupted or
  * nested layout) is ambiguous and refuses rather than guessing;
  * time-travel arguments a format cannot express (e.g. a version on
  * Hudi, whose instants are strings) refuse with the native reader
  * named.
  *
  * SESSION-WIDE SIDE EFFECT (documented contract): reading an
  * Iceberg table or a Delta columnMapping mode=id table through here
  * permanently enables `spark.sql.parquet.fieldId.read.enabled` on
  * the session ([[IcebergLite.enableFieldIdRead]]). That is inert
  * for read schemas without `parquet.field.id` metadata, but an
  * unrelated read whose USER-SUPPLIED schema carries that metadata
  * switches from name to id resolution afterward.
  */
object GraftLake {

  sealed trait Format { def name: String }
  case object Delta extends Format { val name = "delta" }
  case object Iceberg extends Format { val name = "iceberg" }
  case object Hudi extends Format { val name = "hudi" }
  case object Paimon extends Format { val name = "paimon" }

  /** Detect the table's format from its layout marker. */
  def detect(spark: SparkSession, tableDir: String): Format = {
    val base = new Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) throw new IllegalStateException(
      s"GraftLake: $tableDir does not exist")
    def dir(n: String) = {
      val p = new Path(base, n)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    }
    val iceberg = dir("metadata") && {
      val md = new Path(base, "metadata")
      fs.listStatus(md).exists { st =>
        val n = st.getPath.getName
        n == "version-hint.text" || n.matches("v\\d+\\.metadata\\.json")
      }
    }
    val hits = Seq(
      Delta -> dir("_delta_log"),
      Iceberg -> iceberg,
      Hudi -> dir(".hoodie"),
      Paimon -> (dir("snapshot") && dir("schema"))).filter(_._2).map(_._1)
    hits match {
      case Seq(one) => one
      case Seq() => throw new IllegalStateException(
        s"GraftLake: $tableDir matches no lakehouse layout — looked for " +
          "_delta_log/ (Delta), metadata/v<N>.metadata.json or " +
          "version-hint.text (Iceberg), .hoodie/ (Hudi), " +
          "snapshot/+schema/ (Paimon)")
      case many => throw new IllegalStateException(
        s"GraftLake: $tableDir matches MULTIPLE layouts " +
          s"(${many.map(_.name).mkString(", ")}) — ambiguous; read it " +
          "through the specific reader instead")
    }
  }

  /** Hudi table type from `.hoodie/hoodie.properties` — true when the
    * table declares MERGE_ON_READ (a missing properties file reads as
    * COW, Hudi's default). Shared by both dispatch surfaces. */
  private[graft] def isMorTable(spark: SparkSession,
                                tableDir: String): Boolean = {
    val props = new Path(tableDir, ".hoodie/hoodie.properties")
    val fs = props.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(props) && LakeFiles.readText(fs, props).linesIterator
      .map(_.trim).exists(_ == "hoodie.table.type=MERGE_ON_READ")
  }

  /** Detect + dispatch. `version` is a Delta version / Iceberg
    * snapshot id / Paimon snapshot id (refused on Hudi — its instants
    * are strings; use [[HudiCowLite.read]]); `timestampMs` is Delta
    * commitInfo / Iceberg timestamp-ms / Paimon timeMillis travel
    * (refused on Hudi, whose instants are strings); `readOptimized`
    * opts a Hudi MERGE_ON_READ table into its read-optimized view —
    * without it a MOR table serves Hudi's DEFAULT query mode, the
    * SNAPSHOT view with log merging ([[HudiMorLite]]); a no-op
    * everywhere else (the other formats' reads are already their
    * freshest consistent view). `ref` is the NAMED travel axis —
    * Iceberg refs (branches/tags) and Paimon tags; Delta and Hudi
    * have no such surface and refuse it. */
  def read(spark: SparkSession, tableDir: String,
           version: Option[Long] = None,
           timestampMs: Option[Long] = None,
           readOptimized: Boolean = false,
           ref: Option[String] = None): DataFrame = {
    require(Seq(version, timestampMs, ref).count(_.nonEmpty) <= 1,
      "version, timestampMs and ref are mutually exclusive")
    detect(spark, tableDir) match {
      case Delta =>
        if (ref.nonEmpty) throw new IllegalArgumentException(
          "GraftLake: Delta has no named-ref surface (branches/tags " +
            "are Iceberg refs / Paimon tags) — use version/timestampMs")
      DeltaLogLite.read(spark, tableDir, versionAsOf = version,
          timestampAsOf = timestampMs)
      case Iceberg =>
        IcebergLite.read(spark, tableDir, snapshotId = version,
          asOfTimestampMs = timestampMs, ref = ref)
      case Hudi =>
        if (version.nonEmpty || timestampMs.nonEmpty || ref.nonEmpty)
          throw new IllegalArgumentException(
            "GraftLake: Hudi time travel takes STRING instants — use " +
              "HudiCowLite/HudiMorLite.read(asOfInstant=...) directly")
        if (isMorTable(spark, tableDir) && !readOptimized)
          HudiMorLite.read(spark, tableDir)
        else HudiCowLite.read(spark, tableDir,
          readOptimized = readOptimized)
      case Paimon =>
        PaimonLite.read(spark, tableDir, snapshotId = version,
          asOfTimestampMs = timestampMs, tag = ref)
    }
  }

  /** Detect + dispatch the INCREMENTAL (commit-range) read — Hudi's
    * query surface, COW and MOR alike (begin exclusive, end
    * inclusive, string instants). The other formats have their own
    * change surfaces and refuse with the right reader named: Delta →
    * CDF ([[DeltaLogLite.readChanges]]), Paimon → changelog
    * ([[PaimonLite.readChangelog]]), Iceberg → incremental append by
    * snapshot id ([[IcebergLite.readIncremental]]). */
  def readIncremental(spark: SparkSession, tableDir: String,
                      beginInstant: String,
                      endInstant: Option[String] = None): DataFrame =
    detect(spark, tableDir) match {
      case Hudi =>
        if (isMorTable(spark, tableDir))
          HudiMorLite.readIncremental(spark, tableDir, beginInstant,
            endInstant)
        else HudiCowLite.readIncremental(spark, tableDir, beginInstant,
          endInstant)
      case Delta => throw new IllegalArgumentException(
        "GraftLake: Delta's change surface is the CHANGE DATA FEED — " +
          "use DeltaLogLite.readChanges(fromVersion, toVersion)")
      case Paimon => throw new IllegalArgumentException(
        "GraftLake: Paimon's change surface is the CHANGELOG — use " +
          "PaimonLite.readChangelog(snapshotId)")
      case Iceberg => throw new IllegalArgumentException(
        "GraftLake: Iceberg increments by SNAPSHOT ID — use " +
          "IcebergLite.readIncremental(fromSnapshotId, toSnapshotId)")
    }

  /** Detect + dispatch the ROW-LEVEL CHANGE read — one entry point,
    * one vocabulary: data columns + `_change_type` ('insert' /
    * 'delete' / 'update_preimage' / 'update_postimage') +
    * `_commit_version` (the format's own version axis). Range
    * conventions are each format's native ones:
    *  - Delta: CDF over versions [fromVersion, toVersion], BOTH
    *    inclusive (the protocol's startingVersion convention) —
    *    [[DeltaLogLite.readChanges]];
    *  - Iceberg: the net diff between snapshot STATES
    *    (fromVersion, toVersion] — [[IcebergLite.readChanges]];
    *    `_commit_version` = toVersion (a net diff has no per-commit
    *    attribution);
    *  - Paimon: the changelogs of snapshots fromVersion+1 .. toVersion
    *    ([[PaimonLite.readChangelog]] per snapshot), row kinds mapped
    *    '+I'→insert, '-D'→delete, '-U'/'+U'→update_pre/postimage (an
    *    unrecognized kind passes through VERBATIM — never a silent
    *    null);
    *  - Hudi: instants are STRINGS and its lite change surface is the
    *    arrival-bounded incremental read — refuses naming
    *    [[readIncremental]]. */
  def readChanges(spark: SparkSession, tableDir: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    detect(spark, tableDir) match {
      case Delta =>
        DeltaLogLite.readChanges(spark, tableDir, fromVersion, toVersion)
      case Iceberg =>
        IcebergLite.readChanges(spark, tableDir, fromVersion, toVersion)
          .withColumn("_commit_version", lit(toVersion))
      case Paimon =>
        require(fromVersion < toVersion,
          s"GraftLake: empty Paimon changelog range ($fromVersion, " +
            s"$toVersion] — fromVersion must be below toVersion")
        (fromVersion + 1 to toVersion).map { sid =>
          PaimonLite.readChangelog(spark, tableDir, sid)
            .withColumn("_change_type",
              when(col("_row_kind") === "+I", "insert")
                .when(col("_row_kind") === "-D", "delete")
                .when(col("_row_kind") === "-U", "update_preimage")
                .when(col("_row_kind") === "+U", "update_postimage")
                .otherwise(col("_row_kind")))
            .drop("_row_kind")
            .withColumn("_commit_version", lit(sid))
        }.reduce(_ unionAll _)
      case Hudi => throw new IllegalArgumentException(
        "GraftLake: Hudi's change surface takes STRING instants — use " +
          "HudiCowLite.readChanges(beginInstant[, endInstant]) for " +
          "row-level CDC, or GraftLake.readIncremental for " +
          "arrival-bounded rows")
    }
  }

  /** Detect + dispatch the COMPACTION/OPTIMIZE write: Delta OPTIMIZE
    * ([[DeltaLogLite.compact]]), Iceberg rewrite-data-files
    * ([[IcebergLite.compact]]), Hudi clustering
    * ([[HudiCowLite.cluster]] — COW only, the MOR gate fires inside),
    * Paimon full compaction ([[PaimonLite.compact]]). Returns the new
    * version marker rendered as a string (Delta version / Iceberg
    * snapshot id / Hudi instant / Paimon snapshot id) — each format's
    * own axis. */
  def compact(spark: SparkSession, tableDir: String,
              numFiles: Int = 1): String =
    detect(spark, tableDir) match {
      case Delta =>
        DeltaLogLite.compact(spark, tableDir, numFiles).toString
      case Iceberg =>
        IcebergLite.compact(spark, tableDir, numFiles).toString
      case Hudi =>
        // MOR clustering materializes the merged view (logs fold into
        // fresh base files); COW packs base files — each table type's
        // own op
        if (isMorTable(spark, tableDir))
          HudiMorLite.cluster(spark, tableDir, numFiles)
        else HudiCowLite.cluster(spark, tableDir, numFiles)
      case Paimon =>
        PaimonLite.compact(spark, tableDir, numFiles).toString
    }

  /** Detect + dispatch SNAPSHOT EXPIRY — the history-retention op:
    * Iceberg expire-snapshots ([[IcebergLite.expireSnapshots]]) and
    * Paimon snapshot retention ([[PaimonLite.expireSnapshots]]),
    * returning the expired ids. Delta and Hudi keep NO snapshot list
    * to expire — their reclaim axis is file-grain
    * ([[reclaim]]: VACUUM / CLEAN) — so they refuse naming it rather
    * than silently no-op. `dropChangelogs` is Paimon's
    * changelog-retention opt-in (expire a changelog-carrying snapshot
    * WITH its changelog); the other formats have no changelog axis,
    * so passing it true anywhere else refuses rather than silently
    * ignoring the ask. */
  def expire(spark: SparkSession, tableDir: String,
             keepLast: Int = 1,
             dropChangelogs: Boolean = false): Seq[Long] =
    detect(spark, tableDir) match {
      case Iceberg =>
        if (dropChangelogs) throw new IllegalArgumentException(
          s"$tableDir: dropChangelogs is Paimon's changelog-retention " +
            "axis — Iceberg snapshots carry no changelog to drop")
        IcebergLite.expireSnapshots(spark, tableDir, keepLast)
      case Paimon =>
        PaimonLite.expireSnapshots(spark, tableDir, keepLast,
          dropChangelogs)
      case f => throw new IllegalArgumentException(
        s"$tableDir: ${f.name} has no snapshot-expiry op — its " +
          "reclaim axis is file-grain; use GraftLake.reclaim " +
          "(Delta VACUUM / Hudi CLEAN)")
    }

  /** Detect + dispatch the ROW-LEVEL DELETE write — the most common
    * lakehouse mutation, one vocabulary: Delta commits deletion
    * vectors ([[DeltaLogLite.delete]], returns the new version), Hudi
    * COW rewrites the touched file groups ([[HudiCowLite.delete]]),
    * Hudi MOR appends DELETE_BLOCKs to the touched slices' logs
    * ([[HudiMorLite.delete]] — the format's cheap-mutation point),
    * both returning the new instant; Iceberg commits POSITIONAL
    * delete files — the merge-on-read DELETE ([[IcebergLite.delete]]);
    * Paimon PK tables COMPOSE — the predicate selects keys on the
    * merged view and [[PaimonLite.deleteKeys]] appends their `-D`
    * rows (deduplicate engine, the writer's own gate). ALL FOUR
    * formats serve the predicate delete. Returns the new version
    * marker as a string — the CURRENT one when nothing matched (a
    * no-op delete is not a table change). */
  def delete(spark: SparkSession, tableDir: String,
             condition: org.apache.spark.sql.Column): String =
    detect(spark, tableDir) match {
      case Delta =>
        DeltaLogLite.delete(spark, tableDir, condition).toString
      case Hudi =>
        if (isMorTable(spark, tableDir))
          HudiMorLite.delete(spark, tableDir, condition)
        else HudiCowLite.delete(spark, tableDir, condition)
      case Iceberg =>
        IcebergLite.delete(spark, tableDir, condition).toString
      case Paimon =>
        PaimonLite.delete(spark, tableDir, condition).toString
    }

  /** Detect + dispatch the ROW-LEVEL UPDATE write: Delta rewrites
    * matched rows under grown deletion vectors with WRITTEN cdc
    * images ([[DeltaLogLite.update]]); Hudi COW rewrites the touched
    * groups through an upsert of the SET-applied rows
    * ([[HudiCowLite.update]]); Hudi MOR appends the SET-applied rows
    * as data blocks to their own slices' logs
    * ([[HudiMorLite.update]]). The remaining formats' update axes
    * are served too: Iceberg commits the merge-on-read UPDATE —
    * positional deletes + the rewritten rows in ONE snapshot
    * ([[IcebergLite.update]]); Paimon PK tables COMPOSE — the
    * SET-applied matched rows of the merged view upsert back as
    * higher-sequence KeyValue rows ([[PaimonLite.upsert]],
    * deduplicate-engine scope: partial-update and aggregation would
    * FOLD the rewrite into the old value instead of replacing it, so
    * they refuse). ALL FOUR formats serve the predicate update. */
  def update(spark: SparkSession, tableDir: String,
             condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): String =
    detect(spark, tableDir) match {
      case Delta =>
        DeltaLogLite.update(spark, tableDir, condition, set).toString
      case Hudi =>
        if (isMorTable(spark, tableDir))
          HudiMorLite.update(spark, tableDir, condition, set)
        else HudiCowLite.update(spark, tableDir, condition, set)
      case Iceberg =>
        IcebergLite.update(spark, tableDir, condition, set).toString
      case Paimon =>
        PaimonLite.update(spark, tableDir, condition, set).toString
    }

  /** Detect + dispatch the KEYED UPSERT — one vocabulary over all
    * four formats' merge-by-key writes: `rows` carries the new row
    * versions (full table schema), `keyCols` names the match key.
    * Delta runs the MERGE-shaped one-commit delete+append
    * ([[DeltaLogLite.upsertKeyed]]); Iceberg the atomic one-snapshot
    * eq-delete+append ([[IcebergLite.upsertKeyed]]); Hudi stamps the
    * single key column into `_hoodie_record_key` and routes COW
    * group rewrites ([[HudiCowLite.upsert]]) or MOR log-block
    * appends ([[HudiMorLite.upsert]]); Paimon appends
    * higher-sequence KeyValue rows ([[PaimonLite.upsert]]) — its
    * table DEFINES the key, so `keyCols` must equal the declared
    * primary key (silently merging under a different key would
    * betray the caller). Returns the new version marker as a
    * string. */
  def upsert(spark: SparkSession, tableDir: String,
             rows: DataFrame, keyCols: Seq[String]): String = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    detect(spark, tableDir) match {
      case Delta =>
        DeltaLogLite.upsertKeyed(spark, tableDir, rows, keyCols)
          .toString
      case Iceberg =>
        IcebergLite.upsertKeyed(spark, tableDir, rows, keyCols)
          .toString
      case Hudi =>
        if (keyCols.size != 1) throw new IllegalArgumentException(
          s"$tableDir: Hudi's record key is ONE string column — " +
            s"composite facade keys (${keyCols.mkString(", ")}) are " +
            "outside scope; pre-encode them into _hoodie_record_key " +
            "and call the Hudi writer directly")
        val keyed = rows.withColumn("_hoodie_record_key",
          org.apache.spark.sql.functions.col(keyCols.head)
            .cast("string"))
        if (isMorTable(spark, tableDir))
          HudiMorLite.upsert(spark, tableDir, keyed)
        else HudiCowLite.upsert(spark, tableDir, keyed)
      case Paimon =>
        val declared = PaimonLite.snapshot(spark, tableDir).primaryKeys
        if (declared.toSet != keyCols.toSet)
          throw new IllegalArgumentException(
            s"$tableDir: the table's primary key is " +
              s"(${declared.mkString(", ")}) but the upsert asked for " +
              s"(${keyCols.mkString(", ")}) — Paimon merges under the " +
              "TABLE's key; pass it exactly")
        PaimonLite.upsert(spark, tableDir, rows).toString
    }
  }

  /** Detect + dispatch FILE RECLAIM — the dead-file deletion op:
    * Delta VACUUM ([[DeltaLogLite.vacuum]]) and Hudi CLEAN
    * ([[HudiCowLite.clean]]), returning the deleted paths. Iceberg
    * and Paimon reclaim THROUGH snapshot expiry (orphan deletion is
    * part of [[expire]]) — they refuse pointing there rather than
    * silently no-op. */
  def reclaim(spark: SparkSession, tableDir: String): Seq[String] =
    detect(spark, tableDir) match {
      case Delta => DeltaLogLite.vacuum(spark, tableDir)
      case Hudi  => HudiCowLite.clean(spark, tableDir)
      case f => throw new IllegalArgumentException(
        s"$tableDir: ${f.name} reclaims files through snapshot " +
          "expiry — use GraftLake.expire")
    }

  /** The graftstream SOURCE format serving this table's layout — the
    * streaming face of [[detect]]. */
  def streamFormat(spark: SparkSession, tableDir: String): String =
    "org.apache.spark.sql.graftstream." + (detect(spark, tableDir) match {
      case Delta   => "DeltaStreamLite"
      case Iceberg => "IcebergStreamLite"
      case Hudi    => "HudiStreamLite"
      case Paimon  => "PaimonStreamLite"
    })

  /** Detect + dispatch the STREAMING read: one entry point over the
    * four graftstream sources. `options` pass through to the resolved
    * source verbatim (each source refuses unknown semantics its own
    * way — e.g. `readChangeFeed` is Delta's, `readChangelog`
    * Paimon's); the per-trigger rate-limit knob keeps each format's
    * own name (maxVersionsPerTrigger / maxSnapshotsPerTrigger /
    * maxCommitsPerTrigger). */
  def readStream(spark: SparkSession, tableDir: String,
                 options: Map[String, String] = Map.empty): DataFrame =
    options.foldLeft(
      spark.readStream.format(streamFormat(spark, tableDir))
        .option("path", tableDir)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
}
