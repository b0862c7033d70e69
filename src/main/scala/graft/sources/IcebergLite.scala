package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.MetaAvro
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Read-only Apache Iceberg table reader implemented from the PUBLIC
  * Iceberg table spec (iceberg.apache.org/spec/): a table directory
  * holds `metadata/v<N>.metadata.json` (current version named by
  * `metadata/version-hint.text` for Hadoop-catalog tables), each
  * snapshot points at an Avro MANIFEST LIST, each manifest-list row
  * names an Avro MANIFEST, and each manifest row carries a `data_file`
  * struct whose `file_path`/`status` determine the live file set
  * (parquet or ORC).
  *
  * This is the second lakehouse-interop leg next to [[DeltaLogLite]]
  * (reference surface: thirdparty/auron-iceberg/.../
  * IcebergConvertProvider.scala — the reference converts Iceberg scans
  * into its native engine; here the same split of labor is Spark-first):
  *  - SNAPSHOT RESOLUTION (metadata JSON + manifest Avro replay) is
  *    bounded plan-time work — manifests count in the thousands, never
  *    fact-sized — done on the driver: manifest lists and manifests
  *    are read by [[MetaAvro]] (avro's `DataFileReader` + Spark's own
  *    Avro deserializer), so resolving a snapshot launches no Spark
  *    job;
  *  - DATA READING is Spark's native vectorized parquet/ORC scan over the
  *    resolved file set (Iceberg data files store identity-partition
  *    columns IN the file, unlike Delta, so one schema'd read serves),
  *    keeping pushdown, pruning and whole-stage codegen intact.
  *
  * COLUMNS RESOLVE BY FIELD ID (the spec's stable column identity):
  * the snapshot schema carries each field's id as Spark's
  * `parquet.field.id` metadata and the scan runs under
  * `spark.sql.parquet.fieldId.read.enabled`, so a table that RENAMED
  * columns mid-history — old- and new-named parquet files in one
  * snapshot — reads correctly in one native scan with no per-file
  * footer sweep (plan time stays O(manifests), never O(data files)).
  * A parquet file with NO stored ids fails loudly — UNLESS the table
  * carries `schema.name-mapping.default` (the spec's migration
  * surface for Hive/raw-parquet imports), in which case one
  * footer sweep ([[FooterSweep]]) classifies files and id-less ones
  * read by their MAPPED name and project back to current names. ORC files
  * keep name resolution (Spark's ORC reader has no field-id surface)
  * guarded by the same footer sweep.
  *
  * v2 POSITIONAL deletes (content=1) are READ: delete parquets carry
  * (file_path, pos) rows naming dead ordinals in specific data files;
  * the reader attaches `_metadata.file_path`/`_metadata.row_index` to
  * the data scan and LEFT ANTI-joins the delete set — Spark
  * auto-broadcasts a small delete side from parquet size statistics
  * and falls back to a shuffled join for a huge one, so the plan holds
  * at 100 TB. A positional delete row only ever names one immutable
  * data file (Iceberg file names are unique), so applying every delete
  * file in the snapshot is exact without sequence-number bookkeeping.
  *
  * v2 EQUALITY deletes (content=2) are READ: a delete parquet carries
  * values for the columns named by the manifest entry's `equality_ids`
  * (schema field ids — the delete file's own columns also resolve by
  * id, so deletes written before a rename still apply); a data row is
  * dead when it matches some delete
  * row null-safely on those columns AND its data file's sequence
  * number is STRICTLY LOWER than the delete file's (the spec's
  * ordering — a key re-inserted in the same-or-later commit survives).
  * Each COLUMN SET becomes one LEFT ANTI join against its delete keys
  * (each key carried at its highest delete sequence), so a
  * thousand-commit delete history still plans a handful of joins;
  * data rows learn their file's sequence via a bounded (path → seq)
  * broadcast lookup. Sequence
  * numbers are taken from the manifest entry's `sequence_number`
  * (inheriting the manifest-list row's when null, per the spec);
  * a table carrying equality deletes WITHOUT resolvable sequence
  * numbers is refused — applying them unordered could silently delete
  * re-inserted rows.
  *
  * Lite scope, loud failures (never silent wrong answers):
  *  - format-version must be 1 or 2; equality deletes missing
  *    `equality_ids`, naming unknown field ids, or lacking sequence
  *    numbers are refused;
  *  - only primitive column types (boolean/int/long/float/double/
  *    date/timestamp[tz]/string/uuid/decimal) — nested types throw;
  *  - non-file:// filesystem schemes are refused in path resolution;
  *  - missing metadata, an unknown snapshot id, or a manifest row
  *    without the expected fields throw with the path named.
  */
object IcebergLite {

  /** One equality-delete file: resolved path, the delete file's
    * sequence number, and the EQUALITY COLUMNS its rows match on as
    * (field id, current name) pairs — the id is the spec's stable
    * column identity (the delete file's stored column names may be
    * older spellings), the name is the current schema's. */
  final case class EqDelete(path: String, seq: Long,
                            cols: Seq[(Int, String)])

  /** One format-v3 DELETION VECTOR: the Puffin file holding the blob,
    * the blob's offset/length inside it (served straight from the
    * manifest's content_offset/content_size_in_bytes — no footer
    * parse needed), its cardinality (the manifest's record_count, a
    * decode-integrity check) and the ONE data file it applies to. */
  final case class IceDv(path: String, offset: Long, size: Long,
                         cardinality: Long, dataFile: String)

  final case class Snapshot(snapshotId: Long, schema: StructType,
                            files: Seq[String],
                            deleteFiles: Seq[String] = Nil,
                            fileSeqs: Map[String, Long] = Map.empty,
                            eqDeletes: Seq[EqDelete] = Nil,
                            nameMapping: Option[Map[Int, Seq[String]]] =
                              None,
                            dvs: Seq[IceDv] = Nil,
                            // max resolvable sequence over the live
                            // manifest entries; None when any live
                            // entry lacks one (legacy seq-less
                            // tables) — free at parse time, spares
                            // the writers a manifest re-read
                            maxSeq: Option[Long] = None)

  private implicit val fmts: Formats = DefaultFormats

  /** `file:`-scheme URIs and absolute paths pass through; a relative
    * path (some writers store table-relative locations) resolves
    * against the table root. Any OTHER scheme (s3://, hdfs://, …) is
    * refused loudly — concatenating it under tableDir would produce a
    * nonsense path and an unrelated error downstream. */
  private def resolve(tableDir: String, p: String): String = {
    val scheme = "^([A-Za-z][A-Za-z0-9+.-]*)://".r.findFirstMatchIn(p)
      .map(_.group(1))
    scheme.filter(_ != "file").foreach { s =>
      throw new IllegalStateException(
        s"IcebergLite: unsupported filesystem scheme '$s://' in '$p' — " +
          "only file:// and table-relative paths are in scope")
    }
    val noScheme = p.stripPrefix("file://").stripPrefix("file:")
    if (noScheme.startsWith("/")) noScheme else s"$tableDir/$noScheme"
  }

  private def icebergType(t: String, where: String): DataType = t match {
    case "boolean"              => BooleanType
    case "int"                  => IntegerType
    case "long"                 => LongType
    case "float"                => FloatType
    case "double"               => DoubleType
    case "date"                 => DateType
    case "timestamp"            => TimestampNTZType
    case "timestamptz"          => TimestampType
    case "string" | "uuid"      => StringType
    case "binary"               => BinaryType
    case d if d.startsWith("decimal(") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other => throw new IllegalStateException(
      s"$where: unsupported Iceberg type '$other' (nested/complex types " +
        "are outside IcebergLite scope)")
  }

  /** Spark's parquet field-id metadata key: a StructField carrying it
    * is matched to parquet columns BY ID (not name) when
    * `spark.sql.parquet.fieldId.read.enabled` is on — exactly the
    * spec's column-identity rule, and what makes renamed columns read
    * correctly without any per-file footer sweep. */
  val FieldIdKey = "parquet.field.id"

  /** StructField metadata key carrying a v3 `initial-default` value
    * (stringified primitive; cast back to the field type at plan
    * time). */
  val DefaultKey = "iceberg.initial-default"

  /** Enable parquet field-id READ resolution on the session. The flag
    * only changes behavior for read schemas that carry [[FieldIdKey]]
    * metadata (everything else keeps name resolution), so leaving it
    * on session-wide is inert for every scan whose read schema has no
    * ids. CAVEAT (documented contract of the GraftLake entry points):
    * the mutation IS session-wide and permanent — an unrelated read
    * in the same session whose USER-SUPPLIED schema happens to carry
    * [[FieldIdKey]] metadata switches from name to id resolution
    * after the first Iceberg/Delta-mode=id scan. A parquet file with
    * NO stored field ids under an id-carrying read schema fails
    * LOUDLY in Spark ("read schema expects field Ids") — unless the
    * table declares `schema.name-mapping.default`, which [[read]]
    * serves via [[scanData]]'s mapped legs. */
  def enableFieldIdRead(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Stamp field ids onto a frame's columns as [[FieldIdKey]] metadata
    * so Spark's parquet WRITER records them in the footer
    * (`spark.sql.parquet.fieldId.write.enabled`, on by default) — the
    * writer-side half of the spec's column identity, used by the
    * streaming sink (real Iceberg writers always stamp ids). */
  def stampFieldIds(df: DataFrame, ids: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(df.schema.fields.toSeq.map { f =>
      val id = ids.getOrElse(f.name, throw new IllegalArgumentException(
        s"stampFieldIds: no field id for column ${f.name}"))
      val mb = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(FieldIdKey, id.toLong).build()
      col(f.name).as(f.name, mb)
    }: _*)
  }

  private def parseSchema(fields: JValue, where: String): StructType =
    fields match {
      case JArray(fs) => StructType(fs.map { f =>
        val name = (f \ "name").extract[String]
        val required = (f \ "required").extractOpt[Boolean].getOrElse(false)
        val tpe = (f \ "type") match {
          case JString(t) => icebergType(t, where)
          case _ => throw new IllegalStateException(
            s"$where: field $name has a non-primitive type")
        }
        // the field id IS the column's identity (renames keep it);
        // carried as parquet.field.id metadata so the parquet scan
        // resolves by id. A field without one is malformed (the spec
        // requires ids in v1 and v2) — refuse rather than fall back
        // to name resolution that would silently null after a rename.
        val id = (f \ "id").extractOpt[Int].getOrElse(
          throw new IllegalStateException(
            s"$where: field $name has no id — malformed Iceberg schema"))
        // v3 column DEFAULTS: a field added with initial-default reads
        // that value (not null) from files written BEFORE the add.
        // The default rides the field metadata; scanData serves it
        // through a per-file-presence leg split (see there). Values
        // outside the flat-primitive set refuse.
        val mb = new MetadataBuilder().putLong(FieldIdKey, id.toLong)
        (f \ "initial-default") match {
          case JNull | JNothing =>
          case JInt(v)     => mb.putString(DefaultKey, v.toString): Unit
          case JLong(v)    => mb.putString(DefaultKey, v.toString): Unit
          case JDouble(v)  => mb.putString(DefaultKey, v.toString): Unit
          case JDecimal(v) => mb.putString(DefaultKey, v.toString): Unit
          case JString(v)  => mb.putString(DefaultKey, v): Unit
          case JBool(v)    => mb.putString(DefaultKey, v.toString): Unit
          case d => throw new IllegalStateException(
            s"$where: field $name carries a non-primitive " +
              s"initial-default $d — outside IcebergLite scope")
        }
        StructField(name, tpe, nullable = !required, mb.build())
      })
      case _ =>
        throw new IllegalStateException(s"$where: schema has no fields")
    }

  /** Parse the table property `schema.name-mapping.default` — the
    * spec's MIGRATION surface: a JSON list of `{"field-id": N,
    * "names": [...]}` entries assigning ids to the columns of files
    * written WITHOUT stored field ids (tables migrated from Hive/raw
    * parquet). Flat mappings only — an entry carrying nested `fields`
    * refuses (nested types are outside lite scope anyway). */
  private[graft] def parseNameMapping(json: String,
                                      where: String): Map[Int, Seq[String]] =
    (try JsonMethods.parse(json) catch { case e: Exception =>
      throw new IllegalStateException(
        s"$where: malformed schema.name-mapping.default (${e.getMessage})")
    }) match {
      case JArray(entries) => entries.map { e =>
        (e \ "fields") match {
          case JNothing | JNull =>
          case _ => throw new IllegalStateException(
            s"$where: name-mapping entry carries nested 'fields' — " +
              "nested mappings are outside IcebergLite scope")
        }
        val id = (e \ "field-id").extractOpt[Int].getOrElse(
          throw new IllegalStateException(
            s"$where: name-mapping entry without a field-id"))
        val names = (e \ "names") match {
          case JArray(ns) => ns.map(_.extract[String])
          case _ => throw new IllegalStateException(
            s"$where: name-mapping entry for field-id $id has no names")
        }
        id -> names
      }.toMap
      case _ => throw new IllegalStateException(
        s"$where: schema.name-mapping.default is not a JSON list")
    }

  /** Schema field ids → names (the spec's stable column identity;
    * equality_ids name columns through these). */
  private def fieldIdMap(fields: JValue): Map[Int, String] = fields match {
    case JArray(fs) => fs.flatMap { f =>
      (f \ "id").extractOpt[Int].map(_ -> (f \ "name").extract[String])
    }.toMap
    case _ => Map.empty
  }

  /** One metadata version of a table: its number, file and parsed JSON,
    * and the filesystem (of the session's Hadoop conf, as [[MetaAvro]]
    * and [[FooterSweep]] use) that a resolve or a commit reads, writes
    * and publishes through. */
  private final case class Meta(fs: FileSystem, tableDir: String,
                                version: Long, file: Path, json: JValue) {
    /** Snapshot ids in METADATA-LIST ORDER (append-only history
      * appends at the end). */
    def snapshotIds: Seq[Long] = (json \ "snapshots") match {
      case JArray(ss) => ss.map(s => (s \ "snapshot-id").extract[Long])
      case _ => Nil
    }

    /** The manifest list of snapshot `id`, as written. */
    def manifestList(id: Long): String = ((json \ "snapshots") match {
      case JArray(ss) => ss.collectFirst {
        case s if (s \ "snapshot-id").extractOpt[Long].contains(id) =>
          (s \ "manifest-list").extract[String]
      }
      case _ => None
    }).getOrElse(throw new IllegalArgumentException(
      s"$file: snapshot $id not found " +
        s"(have ${snapshotIds.mkString(", ")})"))

    def currentId: Option[Long] =
      (json \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
  }

  /** The table's current metadata version: `version-hint.text`, else the
    * highest `v<N>.metadata.json`, then advanced while
    * `v<N+1>.metadata.json` exists — a writer that crashed between
    * publishing a version and moving the hint leaves the hint one
    * behind, and Iceberg's Hadoop catalog probes past it the same way.
    * None when the table has no metadata version yet. */
  private def findMeta(spark: SparkSession,
                       tableDir: String): Option[Meta] = {
    val metaDir = new Path(tableDir, "metadata")
    val fs = metaDir.getFileSystem(spark.sessionState.newHadoopConf())
    def file(v: Long) = new Path(metaDir, s"v$v.metadata.json")
    val hint = new Path(metaDir, "version-hint.text")
    val start: Option[Long] =
      if (fs.exists(hint)) Some(LakeFiles.readText(fs, hint).trim.toLong)
      else if (!fs.exists(metaDir)) None
      else fs.listStatus(metaDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
          n.stripPrefix("v").stripSuffix(".metadata.json").toLong }
        .maxOption
    start.map { v0 =>
      var v = v0
      while (fs.exists(file(v + 1))) v += 1
      if (!fs.exists(file(v)))
        throw new IllegalStateException(s"$tableDir: ${file(v)} missing")
      Meta(fs, tableDir, v, file(v),
        JsonMethods.parse(LakeFiles.readText(fs, file(v))))
    }
  }

  private def loadMeta(spark: SparkSession, tableDir: String): Meta =
    findMeta(spark, tableDir).getOrElse(throw new IllegalStateException(
      s"$tableDir: no v<N>.metadata.json under metadata/"))

  /** The current metadata version, its JSON and the current snapshot's
    * manifest-list rows as (manifest path, content) — what the stream
    * sink commits on top of; None before the table's first commit. */
  def current(spark: SparkSession,
              tableDir: String): Option[(Long, JValue, Seq[(String, Int)])] =
    findMeta(spark, tableDir).map { m =>
      (m.version, m.json, m.currentId.toSeq.flatMap(id =>
        manifestList(spark, tableDir, m.manifestList(id))
          .map(r => r.path -> r.content.getOrElse(0))))
    }

  /** Publish metadata version `version`: create-new
    * `v<version>.metadata.json` (a taken version means another writer
    * committed first — single-writer scope refuses), then move the hint.
    * The one commit point of the writers and the stream sink: a reader
    * resolves either the old version or the new one, never half a
    * snapshot. */
  def publish(fs: FileSystem, tableDir: String, version: Long,
              json: String): Unit = {
    try AtomicFiles.write(fs,
      new Path(tableDir, s"metadata/v$version.metadata.json"), json,
      replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"$tableDir: metadata v$version already exists — another " +
            "writer is active (single-writer scope)")
    }
    AtomicFiles.write(fs, new Path(tableDir, "metadata/version-hint.text"),
      version.toString, replace = true)
  }

  /** One manifest-list row as written: the manifest's path, its content
    * (0 data, 1 deletes), sequence number and byte length when
    * recorded. */
  private final case class ListRow(path: String, content: Option[Int],
                                   seq: Option[Long], length: Option[Long])

  private def manifestList(spark: SparkSession, tableDir: String,
                           rel: String): Seq[ListRow] = {
    val p = resolve(tableDir, rel)
    val ml = MetaAvro.read(spark, p)
    if (!ml.columns.contains("manifest_path"))
      throw new IllegalStateException(s"$p: manifest list lacks manifest_path")
    def num(r: Row, n: String): Option[Number] =
      if (ml.columns.contains(n) && r.getAs[Any](n) != null)
        Some(r.getAs[Number](n))
      else None
    ml.rows.toSeq.map(r => ListRow(r.getAs[String]("manifest_path"),
      num(r, "content").map(_.intValue()),
      num(r, "sequence_number").map(_.longValue()),
      num(r, "manifest_length").map(_.longValue())))
  }

  /** One manifest entry, decoded once: the resolved manifest it sits in
    * and that manifest's list content (0 data, else deletes), its status
    * (2 = DELETED tombstone), the data_file content, the sequence number
    * (the entry's own, else inherited from the list row — the spec's
    * ADDED-entry rule), the file path as written (resolved on first
    * use: only the replay needs its scheme checked) and the stats,
    * canonical-JSON partition and v2/v3 delete fields the writer
    * recorded. */
  private final case class Entry(manifest: String, listContent: Int,
                                 status: Int, content: Int,
                                 seq: Option[Long], rawPath: String,
                                 format: Option[String],
                                 recordCount: Option[Long],
                                 fileSize: Option[Long],
                                 partition: Option[String],
                                 equalityIds: Seq[Int],
                                 referencedDataFile: Option[String],
                                 contentOffset: Option[Long],
                                 contentSize: Option[Long])
                                (tableDir: String) {
    lazy val path: String = resolve(tableDir, rawPath)
  }

  /** One snapshot's metadata, walked once: the metadata version it was
    * resolved in, its id, its manifest-list rows and every entry of
    * every manifest they name. Snapshots, metadata tables and writers
    * all build on it; none of it reaches the [[Snapshot]] that query
    * plans capture. */
  private final case class Walk(meta: Meta, snapshotId: Long,
                                manifests: Seq[ListRow],
                                entries: Seq[Entry]) {
    def live: Seq[Entry] = entries.filter(_.status != 2)

    /** The highest sequence number of a live entry (0 with none); None
      * when a live entry has none (legacy seq-less tables). */
    def maxSeq: Option[Long] =
      if (live.exists(_.seq.isEmpty)) None
      else Some(live.flatMap(_.seq).maxOption.getOrElse(0L))
  }

  /** Walk the wanted snapshot of `meta`: `snapshotId`, a named `ref`
    * (the metadata's `refs` branch/tag map — Iceberg's VERSION AS OF
    * 'tag' axis; unknown names refuse listing what exists), the LATEST
    * snapshot whose `timestamp-ms` is ≤ `asOfTimestampMs` (unstamped
    * snapshots, or an instant before the first one, refuse), else the
    * current one. The manifest list is read once and each manifest
    * once. */
  private def walk(spark: SparkSession, meta: Meta,
                   snapshotId: Option[Long] = None,
                   asOfTimestampMs: Option[Long] = None,
                   ref: Option[String] = None): Walk = {
    val Meta(_, tableDir, _, metaFile, json) = meta
    require(Seq(snapshotId, asOfTimestampMs, ref).count(_.nonEmpty) <= 1,
      "snapshotId, asOfTimestampMs and ref are mutually exclusive")
    val byRef: Option[Long] = ref.map { name =>
      (json \ "refs" \ name \ "snapshot-id").extractOpt[Long].getOrElse(
        throw new IllegalArgumentException(
          s"$metaFile: no ref named '$name'" +
            ((json \ "refs") match {
              case JObject(rs) if rs.nonEmpty =>
                s" (have ${rs.map(_._1).sorted.mkString(", ")})"
              case _ => " (table has no refs)"
            })))
    }
    val byTimestamp: Option[Long] = asOfTimestampMs.map { ts =>
      val stamped = (json \ "snapshots") match {
        case JArray(ss) => ss.map { s =>
          (s \ "snapshot-id").extract[Long] ->
            (s \ "timestamp-ms").extractOpt[Long].getOrElse(
              throw new IllegalStateException(
                s"$metaFile: snapshot ${(s \ "snapshot-id").extract[Long]} " +
                  "has no timestamp-ms — timestamp travel needs stamped " +
                  "snapshots"))
        }
        case _ => Nil
      }
      val eligible = stamped.filter(_._2 <= ts)
      if (eligible.isEmpty) throw new IllegalArgumentException(
        s"$metaFile: no snapshot at or before timestamp $ts " +
          s"(earliest is ${stamped.map(_._2).minOption.getOrElse(-1L)})")
      // ties on timestamp-ms resolve to the LATEST snapshot — real
      // Iceberg snapshot ids are random longs, so "latest" is the one
      // appended LAST in the metadata's snapshots list, not the max id
      val maxTs = eligible.map(_._2).max
      eligible.filter(_._2 == maxTs).last._1
    }
    val wantedId = snapshotId.orElse(byRef).orElse(byTimestamp)
      .orElse(meta.currentId).getOrElse(throw new IllegalStateException(
        s"$metaFile: table has no current snapshot"))
    // manifest list: bounded plan-time read (one row per manifest)
    val rows = manifestList(spark, tableDir, meta.manifestList(wantedId))
    val entries = rows.flatMap { row =>
      val p = resolve(tableDir, row.path)
      val m = MetaAvro.read(spark, p)
      if (!m.columns.contains("data_file") || !m.columns.contains("status"))
        throw new IllegalStateException(
          s"$p: manifest lacks status/data_file fields")
      m.rows.toSeq.map { r =>
        val df = r.getAs[Row]("data_file")
        def fld[T](n: String)(get: => T): Option[T] =
          if (df.schema.fieldNames.contains(n) && df.getAs[Any](n) != null)
            Some(get)
          else None
        def long(n: String) = fld(n)(df.getAs[Number](n).longValue())
        val ownSeq =
          if (m.columns.contains("sequence_number") &&
            r.getAs[Any]("sequence_number") != null)
            Some(r.getAs[Number]("sequence_number").longValue())
          else None
        Entry(p, row.content.getOrElse(0),
          r.getAs[Number]("status").intValue(),
          fld("content")(df.getAs[Number]("content").intValue()).getOrElse(0),
          ownSeq.orElse(row.seq), df.getAs[String]("file_path"),
          fld("file_format")(df.getAs[String]("file_format")),
          long("record_count"), long("file_size_in_bytes"),
          fld("partition")(df.getAs[Row]("partition")).map { pr =>
            pr.schema.fieldNames.map { n =>
              val v = pr.getAs[Any](n) match {
                case null      => "null"
                case s: String => LakeFiles.jstr(s)
                case other     => other.toString
              }
              s"${LakeFiles.jstr(n)}:$v"
            }.mkString("{", ",", "}")
          },
          fld("equality_ids")(df.getAs[scala.collection.Seq[Any]](
            "equality_ids").map(_.asInstanceOf[Number].intValue()).toSeq)
            .getOrElse(Nil),
          fld("referenced_data_file")(
            df.getAs[String]("referenced_data_file")),
          long("content_offset"), long("content_size_in_bytes"))(tableDir)
      }
    }
    Walk(meta, wantedId, rows, entries)
  }

  /** Snapshot ids in METADATA-LIST ORDER (append-only history appends
    * at the end) — the ordered offset surface for streaming reads. */
  def snapshotIds(spark: SparkSession, tableDir: String): Seq[Long] =
    loadMeta(spark, tableDir).snapshotIds

  /** Each snapshot's `summary.operation` (None when unstamped), by id
    * — the surface streaming consumers use to SKIP replace/rewrite
    * snapshots (the library's streaming-skip-overwrite-snapshots). */
  def snapshotOperations(spark: SparkSession,
                         tableDir: String): Map[Long, Option[String]] =
    (loadMeta(spark, tableDir).json \ "snapshots") match {
      case JArray(ss) => ss.map(s =>
        (s \ "snapshot-id").extract[Long] ->
          (s \ "summary" \ "operation").extractOpt[String]).toMap
      case _ => Map.empty
    }

  /** Resolve the table's snapshot: latest metadata version (via
    * version-hint.text, else the highest v<N>.metadata.json, probed
    * forward past a stale hint), then the current snapshot,
    * `snapshotId`, a named `ref` or `asOfTimestampMs` — see [[walk]]. */
  def snapshot(spark: SparkSession, tableDir: String,
               snapshotId: Option[Long] = None,
               asOfTimestampMs: Option[Long] = None,
               ref: Option[String] = None): Snapshot =
    toSnapshot(walk(spark, loadMeta(spark, tableDir), snapshotId,
      asOfTimestampMs, ref))

  /** The current snapshot, walked once: the writers' shared start. */
  private def resolved(spark: SparkSession,
                       tableDir: String): (Walk, Snapshot) = {
    val w = walk(spark, loadMeta(spark, tableDir))
    (w, toSnapshot(w))
  }

  /** The readable [[Snapshot]] of a walk, with the reader's scope
    * checks: format version, schema, content placement (a data
    * manifest may only hold content=0 entries; a delete manifest 1 or
    * 2), deletion-vector and equality-delete rules. */
  private def toSnapshot(w: Walk): Snapshot = {
    val Meta(_, tableDir, _, metaFile, meta) = w.meta
    val fv = (meta \ "format-version").extract[Int]
    if (fv != 1 && fv != 2 && fv != 3) throw new IllegalStateException(
      s"$metaFile: format-version $fv unsupported " +
        "(IcebergLite reads v1/v2/v3)")
    val schemaFields = (meta \ "schemas") match {
      case JArray(ss) => // v2: pick current-schema-id
        val cur = (meta \ "current-schema-id").extractOpt[Int].getOrElse(0)
        val s = ss.find(s => (s \ "schema-id").extractOpt[Int].contains(cur))
          .getOrElse(throw new IllegalStateException(
            s"$metaFile: current-schema-id $cur not in schemas"))
        s \ "fields"
      case _ => meta \ "schema" \ "fields"
    }
    val schema = parseSchema(schemaFields, metaFile.toString)
    val fieldNames = fieldIdMap(schemaFields)
    for (e <- w.entries) {
      val (allowed, what) =
        if (e.listContent == 0) (Set(0), "data") else (Set(1, 2), "delete")
      if (!allowed.contains(e.content)) throw new IllegalStateException(
        s"${e.manifest}: $what manifest entry has content=${e.content} " +
          s"(expected ${allowed.mkString("/")})")
    }
    val (dataEntries, delEntries) = w.live.partition(_.listContent == 0)

    val files = dataEntries.map(_.path)
    // content=1 entries: format-v3 DELETION VECTORS carry
    // content_offset/content_size_in_bytes (their blob location in a
    // Puffin file) — both REQUIRED for DVs and required-null for
    // position delete FILES. referenced_data_file is NOT the
    // discriminator: v2 writers may set it on file-granularity
    // position delete files too. The spec keys the split on the
    // format version — v3 forbids position delete files and v1/v2
    // predate DVs — so a mismatch refuses loudly.
    val (dvEntries, posEntries) =
      delEntries.filter(_.content == 1)
        .partition(_.contentOffset.nonEmpty)
    if (fv < 3 && dvEntries.nonEmpty) throw new IllegalStateException(
      s"$metaFile: deletion-vector entry ${dvEntries.head.path} in a " +
        s"format-v$fv table — deletion vectors are a v3 feature")
    if (fv >= 3 && posEntries.nonEmpty) throw new IllegalStateException(
      s"$metaFile: position delete FILE ${posEntries.head.path} in a " +
        "format-v3 table — v3 requires deletion vectors (position " +
        "delete files must be rewritten on upgrade)")
    val dvs = dvEntries.map { e =>
      def need[T](v: Option[T], what: String): T = v.getOrElse(
        throw new IllegalStateException(
          s"${e.path}: deletion-vector entry without $what"))
      IceDv(e.path, need(e.contentOffset, "content_offset"),
        need(e.contentSize, "content_size_in_bytes"),
        need(e.recordCount, "record_count (its cardinality)"),
        resolve(tableDir, need(e.referencedDataFile,
          "referenced_data_file")))
    }
    // the spec allows at most ONE DV per data file — duplicates would
    // mean this reader missed whatever supersession rule produced them
    dvs.groupBy(_.dataFile).foreach { case (f, ds) =>
      if (ds.size > 1) throw new IllegalStateException(
        s"$metaFile: ${ds.size} deletion vectors reference $f — the " +
          "spec allows at most one per data file")
    }
    val posDeletes = posEntries.map(_.path)
    val eqDeletes = delEntries.filter(_.content == 2).map { e =>
      if (e.equalityIds.isEmpty) throw new IllegalStateException(
        s"${e.path}: equality delete file (content=2) without " +
          "equality_ids — cannot know which columns its rows match on")
      val cols = e.equalityIds.map(id => id -> fieldNames.getOrElse(id,
        throw new IllegalStateException(
          s"${e.path}: equality_ids field id $id is not in the current " +
            "schema (dropped-column deletes are outside IcebergLite scope)")))
      EqDelete(e.path, e.seq.getOrElse(throw new IllegalStateException(
        s"${e.path}: equality delete file without a sequence number — " +
          "applying it unordered could silently delete re-inserted rows")),
        cols)
    }
    // equality deletes only order against data files that know their
    // own sequence; a seq-less data file next to an equality delete
    // would be silently mis-ordered — refuse instead
    val fileSeqs: Map[String, Long] =
      if (eqDeletes.isEmpty) Map.empty
      else dataEntries.map { e =>
        e.path -> e.seq.getOrElse(throw new IllegalStateException(
          s"${e.path}: data file without a sequence number in a table " +
            "carrying equality deletes — cannot order the delete"))
      }.toMap
    val nameMapping =
      (meta \ "properties" \ "schema.name-mapping.default")
        .extractOpt[String]
        .map(parseNameMapping(_, metaFile.toString))
    Snapshot(w.snapshotId, schema, files, posDeletes, fileSeqs, eqDeletes,
      nameMapping, dvs, w.maxSeq)
  }

  /** Iceberg METADATA TABLES — the library's `table$snapshots` /
    * `table$refs` query surface, served from the table metadata
    * (bounded plan-time JSON, one small local relation):
    *  - "snapshots": (snapshot_id, timestamp_ms, manifest_list)
    *  - "refs": (name, type, snapshot_id) — type defaults to branch
    *    per the spec when absent
    *  - "history": (made_current_at, snapshot_id) from the metadata's
    *    snapshot-log (the spec's current-snapshot lineage; empty when
    *    the writer kept no log)
    *  - "files": one row per LIVE data file of the current snapshot
    *    (file_path, file_format, record_count, file_size_in_bytes,
    *    partition as canonical JSON) from the data-manifest replay
    *  - "partitions": the files rows grouped by partition
    *    (partition, record_count, file_count) — refuses when a
    *    manifest recorded no record_count (summing absent counts
    *    would be silently wrong)
    *  - "manifests": one row per manifest of the current snapshot's
    *    manifest list, under the format's own metadata-table spelling
    *    (path, length — the list's manifest_length when recorded,
    *    filesystem fallback — content 0 data / 1 deletes, and
    *    added/existing/deleted_data_files_count +
    *    added/existing/deleted_delete_files_count from each
    *    manifest's own status column); the metadata-bloat debugging
    *    surface
    *  - "entries": one row per manifest ENTRY across the current
    *    snapshot's manifests (manifest_path, status, file_path,
    *    content, record_count, file_size_in_bytes) — stats the
    *    writer did not record come back null
    * Other names refuse listing what exists. */
  def metadataTable(spark: SparkSession, tableDir: String,
                    table: String): DataFrame = {
    import spark.implicits._
    val m = loadMeta(spark, tableDir)
    val meta = m.json
    // the current snapshot's walk, for the manifest-backed tables
    lazy val w = walk(spark, m)
    // its live DATA files, without the reader's scope checks: a
    // file_format the writer left out falls back to the extension —
    // the same identity the scan itself keys on
    def dataFiles = w.live.filter(_.listContent == 0)
    table match {
      case "snapshots" =>
        val rows: Seq[(Long, Option[Long], String)] =
          (meta \ "snapshots") match {
            case JArray(ss) => ss.map { s =>
              ((s \ "snapshot-id").extract[Long],
                (s \ "timestamp-ms").extractOpt[Long],
                (s \ "manifest-list").extract[String])
            }
            case _ => Nil
          }
        rows.toDF("snapshot_id", "timestamp_ms", "manifest_list")
      case "refs" =>
        val rows: Seq[(String, String, Long)] = (meta \ "refs") match {
          case JObject(rs) => rs.map { case (n, v) =>
            (n, (v \ "type").extractOpt[String].getOrElse("branch"),
              (v \ "snapshot-id").extract[Long])
          }
          case _ => Nil
        }
        rows.toDF("name", "type", "snapshot_id")
      case "history" =>
        val rows: Seq[(Long, Long)] = (meta \ "snapshot-log") match {
          case JArray(es) => es.map { e =>
            ((e \ "timestamp-ms").extract[Long],
              (e \ "snapshot-id").extract[Long])
          }
          case _ => Nil
        }
        rows.toDF("made_current_at", "snapshot_id")
      case "files" =>
        dataFiles.map(e => (e.path,
          e.format.getOrElse(e.path.split('.').last.toUpperCase),
          e.recordCount, e.fileSize, e.partition))
          .toDF("file_path", "file_format", "record_count",
            "file_size_in_bytes", "partition")
      case "partitions" =>
        for (e <- dataFiles if e.recordCount.isEmpty)
          throw new IllegalStateException(
            s"$tableDir: data file ${e.path} has no record_count in its " +
              "manifest — the partitions table cannot sum absent counts")
        dataFiles.groupBy(_.partition).toSeq.map { case (part, fs) =>
          (part, fs.map(_.recordCount.get).sum, fs.size.toLong)
        }.toDF("partition", "record_count", "file_count")
      case "entries" =>
        w.entries.map(e => (e.manifest, e.listContent, e.status, e.rawPath,
          e.content, e.recordCount, e.fileSize))
          .toDF("manifest_path", "manifest_content", "status",
            "file_path", "content", "record_count", "file_size_in_bytes")
      case "manifests" =>
        val byManifest = w.entries.groupBy(e => (e.manifest, e.listContent))
        // Iceberg's own manifests-table spelling: data counts for
        // data manifests (content 0), delete counts for delete
        // manifests (content 1) — tooling written against the
        // format's metadata-table schema resolves these names
        w.manifests.map { r =>
          val p = resolve(tableDir, r.path)
          val content = r.content.getOrElse(0)
          val es = byManifest.getOrElse((p, content), Nil)
          def cnt(status: Int, forContent: Int): Long =
            if (content == forContent) es.count(_.status == status).toLong
            else 0L
          // the manifest list's own manifest_length is the spec's
          // source of truth; the filesystem is only the fallback for
          // lists (like this writer's compaction lists) without it
          (p, r.length.getOrElse(m.fs.getFileStatus(new Path(p)).getLen),
            content,
            cnt(1, 0), cnt(0, 0), cnt(2, 0),
            cnt(1, 1), cnt(0, 1), cnt(2, 1))
        }.toDF("path", "length", "content",
          "added_data_files_count", "existing_data_files_count",
          "deleted_data_files_count", "added_delete_files_count",
          "existing_delete_files_count", "deleted_delete_files_count")
      case other => throw new IllegalArgumentException(
        s"$tableDir: metadata table '$other' — IcebergLite serves " +
          "snapshots, refs, history, files, partitions, manifests " +
          "and entries")
    }
  }

  /** INCREMENTAL APPEND read (Iceberg's documented
    * start-snapshot-id/end-snapshot-id surface): the rows added
    * between two snapshots = one native scan of the END snapshot's
    * file-set difference. APPEND-ONLY scope with loud failures — a
    * snapshot range that DROPS files (overwrite/rewrite/delete
    * between the two) or carries delete files cannot be served as
    * appends; the same gates the streaming source enforces per
    * micro-batch, here across one arbitrary range. */
  def readIncremental(spark: SparkSession, tableDir: String,
                      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val from = snapshot(spark, tableDir, Some(fromSnapshotId))
    val to = snapshot(spark, tableDir, Some(toSnapshotId))
    for (s <- Seq(from, to))
      if (s.deleteFiles.nonEmpty || s.eqDeletes.nonEmpty ||
        s.dvs.nonEmpty)
        throw new IllegalStateException(
          s"$tableDir: snapshot ${s.snapshotId} carries delete files — " +
            "incremental reads are append-only scope")
    if (to.schema.json != from.schema.json) throw new IllegalStateException(
      s"$tableDir: schema changed between snapshots $fromSnapshotId and " +
        s"$toSnapshotId — evolution is outside incremental scope")
    val dropped = from.files.toSet -- to.files.toSet
    if (dropped.nonEmpty) throw new IllegalStateException(
      s"$tableDir: snapshot range ($fromSnapshotId, $toSnapshotId] DROPS " +
        s"files (${dropped.take(3).mkString(", ")}…) — overwrite/delete " +
        "in the range is outside append-only incremental scope")
    val newFiles = (to.files.toSet -- from.files.toSet).toSeq.sorted
    if (newFiles.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], to.schema)
    else {
      enableFieldIdRead(spark) // schema carries ids; parquet matches by id
      ColumnarScan(spark, tableDir, Some(to.schema), newFiles)
    }
  }

  /** INCREMENTAL read BEYOND append-only: the NET row-level diff of a
    * snapshot range (fromSnapshotId, toSnapshotId] whose commits
    * APPEND data files and/or ADD delete surface (positional delete
    * files, format-v3 deletion vectors, equality deletes) — the
    * Iceberg library's changelog surface in net-changes form. Output =
    * table columns + `_change_type` ('insert'/'delete'):
    *  - INSERTS: rows of data files added in the range, as live at
    *    `to` (a row inserted AND deleted inside the range nets out);
    *  - DELETES: rows of pre-existing data files that are live at
    *    `from` but dead at `to` — the `from`-live scan excludes
    *    already-dead rows, so flagging `to`'s positional dead keys
    *    (and `to`'s seq-gated equality deletes) marks exactly the
    *    newly-dead rows. Old data files are scanned ONCE for both
    *    legs (r21): the positional keys left-join a flag and the
    *    equality deletes flag-match on the same stream, the row is a
    *    delete iff either flag is set.
    *
    * Loud refusals (never a silent wrong diff): schema evolution in
    * the range; a range that DROPS data files, positional delete
    * files or equality deletes (rewrite/compaction — their net diff
    * is not derivable from the manifests alone); a deletion vector
    * that disappears or SHRINKS (v3 requires replacement DVs to be
    * supersets; a shrink is a row restore this diff cannot
    * attribute). */
  def readChanges(spark: SparkSession, tableDir: String,
                  fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val from = snapshot(spark, tableDir, Some(fromSnapshotId))
    val to = snapshot(spark, tableDir, Some(toSnapshotId))
    if (to.schema.json != from.schema.json) throw new IllegalStateException(
      s"$tableDir: schema changed between snapshots $fromSnapshotId and " +
        s"$toSnapshotId — evolution is outside incremental scope")
    val droppedData = from.files.toSet -- to.files.toSet
    if (droppedData.nonEmpty) throw new IllegalStateException(
      s"$tableDir: snapshot range ($fromSnapshotId, $toSnapshotId] DROPS " +
        s"data files (${droppedData.toSeq.sorted.take(3).mkString(", ")}…)" +
        " — rewrite/compaction is outside incremental-changes scope")
    val droppedPos = from.deleteFiles.toSet -- to.deleteFiles.toSet
    if (droppedPos.nonEmpty) throw new IllegalStateException(
      s"$tableDir: snapshot range ($fromSnapshotId, $toSnapshotId] DROPS " +
        s"positional delete files " +
        s"(${droppedPos.toSeq.sorted.take(3).mkString(", ")}…) — delete " +
        "compaction is outside incremental-changes scope")
    val droppedEq =
      from.eqDeletes.map(_.path).toSet -- to.eqDeletes.map(_.path).toSet
    if (droppedEq.nonEmpty) throw new IllegalStateException(
      s"$tableDir: snapshot range ($fromSnapshotId, $toSnapshotId] DROPS " +
        s"equality delete files " +
        s"(${droppedEq.toSeq.sorted.take(3).mkString(", ")}…) — delete " +
        "compaction is outside incremental-changes scope")
    for (d <- from.dvs) to.dvs.find(_.dataFile == d.dataFile) match {
      case None => throw new IllegalStateException(
        s"$tableDir: deletion vector of ${d.dataFile} disappears in " +
          s"($fromSnapshotId, $toSnapshotId] — rewrite/restore is " +
          "outside incremental-changes scope")
      case Some(nd) if nd.cardinality < d.cardinality =>
        throw new IllegalStateException(
          s"$tableDir: deletion vector of ${d.dataFile} SHRINKS in " +
            s"($fromSnapshotId, $toSnapshotId] (${d.cardinality} → " +
            s"${nd.cardinality}) — a row restore is outside " +
            "incremental-changes scope")
      case _ =>
    }
    // same physical-scope gates as read(), on the superset surface
    if ((to.deleteFiles.nonEmpty || to.dvs.nonEmpty) &&
      (to.files.exists(_.endsWith(".orc")) ||
        from.files.exists(_.endsWith(".orc"))))
      throw new IllegalStateException(
        s"IcebergLite: positional deletes over ORC data files — " +
          "row-ordinal addressing is parquet-only in lite scope")
    for (d <- to.deleteFiles ++ to.eqDeletes.map(_.path))
      if (!d.endsWith(".parquet")) throw new IllegalStateException(
        s"IcebergLite: delete file $d is not parquet — non-parquet " +
          "delete files are outside lite scope")
    val ct = "_change_type"
    val outSchema = org.apache.spark.sql.types.StructType(
      to.schema.fields :+ org.apache.spark.sql.types.StructField(
        ct, org.apache.spark.sql.types.StringType, nullable = false))
    val fromFiles = from.files.toSet
    val newFiles = to.files.filterNot(fromFiles)
    val inserts =
      if (newFiles.isEmpty) None
      else {
        val snapNew = to.copy(files = newFiles,
          dvs = to.dvs.filter(d => newFiles.contains(d.dataFile)))
        val needMeta = snapNew.deleteFiles.nonEmpty ||
          snapNew.eqDeletes.nonEmpty || snapNew.dvs.nonEmpty
        val live = applyDeleteChain(spark, tableDir, snapNew,
          scanData(spark, tableDir, snapNew, withMeta = needMeta))
        Some((if (needMeta) live.drop("_ice_path", "_ice_pos") else live)
          .withColumn(ct, lit("insert")))
      }
    val oldDvs = to.dvs.filter(d => fromFiles.contains(d.dataFile))
    val deletes =
      if (from.files.isEmpty ||
        (oldDvs.isEmpty && to.deleteFiles.isEmpty && to.eqDeletes.isEmpty))
        None
      else {
        // rows of the old files live at `from` (its whole delete
        // surface applied), row identity kept.
        //
        // r21 (guide §1.2 — remove passes): the positional and
        // equality legs used to BRANCH twice from this scan (a semi
        // join for the positional dead keys, then the equality matcher
        // over a second, anti-joined branch) — two full scans of the
        // old data files, two applications of from's delete chain. One
        // pass now FLAGS each live row instead: left-join the (deduped)
        // positional dead keys, flag-match the seq-gated equality
        // deletes, keep rows dead by either. Same set — the old union
        // was pos ∪ (eq ∖ pos) = pos ∨ eq — and row identity is unique
        // on the single stream, so no dedup is needed. (One refusal
        // became stricter: the equality legs' sequence-number guard now
        // also sees positionally-dead rows, so a file with NO sequence
        // entry refuses even if every matched row was positionally
        // dead — consistent with read()'s loud-refusal rule.)
        val liveFrom = applyDeleteChain(spark, tableDir, from,
          scanData(spark, tableDir, from, withMeta = true))
        // `to`'s positional dead keys: liveFrom already excludes rows
        // dead at `from`, so the flag hits exactly the newly-dead ones
        val posKeys = Seq(
          if (oldDvs.isEmpty) None
          else Some(dvDeadSet(spark, oldDvs)
            .toDF("_k_path", "_k_pos")),
          if (to.deleteFiles.isEmpty) None
          else Some(posDeadSet(spark, tableDir, to.deleteFiles)
            .toDF("_k_path", "_k_pos"))).flatten
          .reduceOption(_ unionAll _)
        val posFlagged = posKeys match {
          case Some(keys) =>
            // a (path, pos) can be dead by a DV AND a positional
            // delete file — dedup the keys so the join is
            // row-preserving
            liveFrom.join(keys.dropDuplicates("_k_path", "_k_pos"),
                col("_ice_path") === col("_k_path") &&
                  col("_ice_pos") === col("_k_pos"), "left_outer")
              .withColumn("_pos_dead", col("_k_path").isNotNull)
              .drop("_k_path", "_k_pos")
          case None => liveFrom.withColumn("_pos_dead", lit(false))
        }
        val eqFlagged =
          if (to.eqDeletes.isEmpty)
            posFlagged.withColumn("_eq_dead", lit(false))
          else applyEqualityDeletes(spark, tableDir, to, posFlagged,
            flagAs = Some("_eq_dead"))
        Some(eqFlagged
          .filter(col("_pos_dead") || col("_eq_dead"))
          .drop("_pos_dead", "_eq_dead", "_ice_path", "_ice_pos")
          .withColumn(ct, lit("delete")))
      }
    Seq(inserts, deletes).flatten.reduceOption(_ unionAll _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema))
  }

  /** Decode one format-v3 DELETION-VECTOR blob from its Puffin file
    * into dead row ordinals (executor-side). The blob layout
    * (Puffin's deletion-vector-v1, spec-identical to Delta's DV
    * serialization): [4-byte BE length of magic+vector][4-byte magic
    * 1681511377 LE][64-bit portable RoaringBitmapArray][4-byte BE
    * CRC-32 of magic+vector]. The leading file magic must read
    * "PFA1"; length, magic, CRC and cardinality mismatches all refuse
    * loudly — the payload decode is shared with
    * [[DeltaLogLite.decodeDvPayload]]. */
  private[graft] def decodePuffinDv(path: String, offset: Long,
                                    size: Long, cardinality: Long)
  : Iterator[Long] = {
    val raf = DeltaLogLite.openBlobStream(path)
    try {
      val fileMagic = new Array[Byte](4)
      raf.seek(0)
      raf.readFully(fileMagic)
      if (!java.util.Arrays.equals(fileMagic, "PFA1".getBytes("UTF-8")))
        throw new IllegalStateException(
          s"$path: leading magic is not PFA1 — not a Puffin file")
      raf.seek(offset)
      val innerLen = raf.readInt() // big-endian
      if (innerLen.toLong != size - 8) throw new IllegalStateException(
        s"$path: deletion-vector blob at offset $offset stores inner " +
          s"length $innerLen but the manifest's content size $size " +
          s"implies ${size - 8}")
      if (innerLen < 4) throw new IllegalStateException(
        s"$path: deletion-vector blob at offset $offset claims inner " +
          s"length $innerLen — too short for the magic")
      val data = new Array[Byte](innerLen)
      raf.readFully(data)
      val storedCrc = raf.readInt() // big-endian
      val crc = new java.util.zip.CRC32
      crc.update(data)
      if (storedCrc != crc.getValue.toInt) throw new IllegalStateException(
        s"$path: deletion-vector checksum mismatch at offset $offset")
      DeltaLogLite.decodeDvPayload(data, cardinality, s"$path@$offset")
    } finally raf.close()
  }

  /** Canonicalize a STORED path column (delete rows' `file_path`
    * values — plain filesystem spellings, possibly file:-scheme or
    * table-relative) for the anti-joins. The OTHER join side —
    * Spark's `_metadata.file_path`, which is percent-ENCODED — goes
    * through [[MetaPaths.decoded]] instead, so both sides land on the
    * same decoded absolute spelling even for names with spaces. */
  private def normPathCol(tableDir: String,
                          c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val abs = regexp_replace(c, "^file:/+", "/")
    when(abs.startsWith("/"), abs)
      .otherwise(concat(lit(s"$tableDir/"), abs))
  }

  /** DataFrame over the snapshot's live files — one native parquet
    * scan (Iceberg data files carry identity-partition columns), with
    * positional deletes applied as a LEFT ANTI join on
    * (file_path, row ordinal). */
  def read(spark: SparkSession, tableDir: String,
           snapshotId: Option[Long] = None,
           asOfTimestampMs: Option[Long] = None,
           ref: Option[String] = None): DataFrame =
    readSnapshot(spark, tableDir,
      snapshot(spark, tableDir, snapshotId, asOfTimestampMs, ref))

  private def readSnapshot(spark: SparkSession, tableDir: String,
                           snap: Snapshot): DataFrame = {
    if (snap.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    else {
      // PARQUET columns resolve BY FIELD ID (the spec's identity):
      // the snapshot schema carries parquet.field.id metadata and the
      // session flag routes the scan through id matching, so renamed
      // columns read correctly with NO per-file footer sweep. ORC has
      // no field-id surface in Spark, so ORC files keep name
      // resolution — guarded by ONE footer sweep (O(files) names
      // collected; a rename mid-history leaves a mix of old- and
      // new-named files).
      enableFieldIdRead(spark)
      val orcFiles = snap.files.filter(_.endsWith(".orc"))
      if (orcFiles.nonEmpty) {
        val footers = FooterSweep.orcColumns(spark, orcFiles)
        for ((f, names) <- footers.toSeq.sortBy(_._1)) {
          val missing = snap.schema.fieldNames.filterNot(names.toSet)
          if (missing.nonEmpty) throw new IllegalStateException(
            s"IcebergLite: $f lacks columns ${missing.mkString(", ")} — " +
              "the table likely renamed columns (ORC reads resolve by " +
              "name; field-id resolution is parquet-only)")
        }
      }
      // ORC data files (file_format=ORC tables) ride the same
      // homogeneous vectorized scan; positional deletes are pinned to
      // parquet row ordinals (_metadata.row_index), so an ORC table
      // carrying them refuses rather than mis-addressing rows
      if (snap.deleteFiles.nonEmpty && snap.files.exists(_.endsWith(".orc")))
        throw new IllegalStateException(
          s"IcebergLite: positional deletes over ORC data files — " +
            "row-ordinal addressing is parquet-only in lite scope")
      for (d <- snap.deleteFiles ++ snap.eqDeletes.map(_.path))
        if (!d.endsWith(".parquet")) throw new IllegalStateException(
          s"IcebergLite: delete file $d is not parquet — non-parquet " +
            "delete files are outside lite scope")
      // delete joins key on file identity/position, which only a scan
      // relation can surface — so when deletes exist, scanData
      // materializes _ice_path/_ice_pos PER LEG before any union (a
      // name-mapped table's id-less files are then deletable too)
      val needMeta = snap.deleteFiles.nonEmpty ||
        snap.eqDeletes.nonEmpty || snap.dvs.nonEmpty
      val data = scanData(spark, tableDir, snap, withMeta = needMeta)
      val afterEq = applyDeleteChain(spark, tableDir, snap, data)
      if (needMeta) afterEq.drop("_ice_path", "_ice_pos") else afterEq
    }
  }

  /** Apply a snapshot's full delete surface — format-v3 deletion
    * vectors, v2 positional delete files, equality deletes — to a
    * data scan that (when any exist) carries `_ice_path`/`_ice_pos`.
    * DV blobs decode EXECUTOR-SIDE over the bounded descriptor list
    * (dead-row volume never lands on the driver) and anti-join on
    * (data file, ordinal) — the same shape as positional delete
    * files. The meta columns are kept for the caller to drop. */
  private def applyDeleteChain(spark: SparkSession, tableDir: String,
                               snap: Snapshot,
                               data: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val afterDv =
      if (snap.dvs.isEmpty) data
      else data.join(dvDeadSet(spark, snap.dvs),
        col("_ice_path") === col("_dvp_path") &&
          col("_ice_pos") === col("_dvp_pos"), "left_anti")
    val afterPos =
      if (snap.deleteFiles.isEmpty) afterDv
      else afterDv.join(posDeadSet(spark, tableDir, snap.deleteFiles),
        col("_ice_path") === col("_del_path") &&
          col("_ice_pos") === col("_del_pos"), "left_anti")
    if (snap.eqDeletes.isEmpty) afterPos
    else applyEqualityDeletes(spark, tableDir, snap, afterPos)
  }

  /** (data file, dead ordinal) rows of a set of deletion vectors —
    * Puffin blobs decoded executor-side. */
  private def dvDeadSet(spark: SparkSession,
                        dvs: Seq[IceDv]): DataFrame = {
    import spark.implicits._
    val descriptors = dvs.map(d =>
      (d.path, d.offset, d.size, d.cardinality, d.dataFile))
    descriptors.toDS()
      .repartition(math.min(descriptors.size,
        spark.sparkContext.defaultParallelism).max(1))
      .flatMap { case (p, off, sz, card, dataFile) =>
        decodePuffinDv(p, off, sz, card).map(pos => (dataFile, pos))
      }.toDF("_dvp_path", "_dvp_pos")
  }

  /** (data file, dead ordinal) rows of a set of v2 positional delete
    * files (their spec'd file_path/pos columns, paths normalized). */
  private def posDeadSet(spark: SparkSession, tableDir: String,
                         deleteFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dels = spark.read.parquet(deleteFiles: _*)
    if (!dels.columns.contains("file_path") ||
      !dels.columns.contains("pos"))
      throw new IllegalStateException(
        s"IcebergLite: positional delete files " +
          s"${deleteFiles.mkString(", ")} lack the spec's " +
          "file_path/pos columns")
    dels.select(
      normPathCol(tableDir, col("file_path")).as("_del_path"),
      col("pos").cast("long").as("_del_pos"))
  }

  /** The snapshot's data scan. Without a name mapping this is ONE
    * native columnar scan resolving parquet columns by field id (an
    * id-less file under the id-carrying read schema fails LOUDLY in
    * Spark). With the table property `schema.name-mapping.default`
    * present — the spec's surface for tables MIGRATED from Hive/raw
    * parquet, whose old files legally carry no ids — one footer sweep
    * ([[FooterSweep]]) classifies the parquet files: id-stamped files keep
    * the field-id scan; id-less files read BY THE MAPPED NAME (each
    * schema field's id looks up its candidate names; exactly one must
    * match the file's columns — zero means null for optional / refuse
    * for required, several refuse as ambiguous) and project back to
    * current names, one scan leg per distinct name signature
    * (signatures are schema-bounded, so legs stay a handful). A file
    * mixing id-stamped and id-less columns refuses.
    *
    * `withMeta` materializes `_ice_path` (percent-decoded) and
    * `_ice_pos` on every leg BEFORE any union — `_metadata` is only
    * resolvable on a scan relation, so the delete joins read these
    * columns instead. This is what lets a MIGRATED table (id-less
    * files under a name mapping) keep serving v2 deletes written
    * after the migration. */
  private def scanData(spark: SparkSession, tableDir: String,
                       snap: Snapshot,
                       withMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    def meta(df: DataFrame): DataFrame =
      if (!withMeta) df
      else df.withColumn("_ice_path",
        MetaPaths.decoded(col("_metadata.file_path")))
        .withColumn("_ice_pos", col("_metadata.row_index"))
    val parquetFiles = snap.files.filter(_.endsWith(".parquet"))
    // v3 initial-defaults: a file written BEFORE a defaulted column
    // was added must read the DEFAULT for it, a file written after
    // reads its stored values (nulls included). One footer sweep
    // splits the files by which defaulted ids are ABSENT; each
    // absence signature becomes a leg whose missing columns are the
    // default literals. Signatures are schema-bounded, so legs stay
    // a handful at any file count.
    val defaulted: Seq[StructField] = snap.schema.fields.toSeq
      .filter(_.metadata.contains(DefaultKey))
    if (defaulted.nonEmpty) {
      if (snap.nameMapping.isDefined) throw new IllegalStateException(
        s"IcebergLite: $tableDir declares BOTH a name mapping and " +
          "initial-default columns — the combination is outside lite " +
          "scope")
      if (snap.files.exists(f => !f.endsWith(".parquet")))
        throw new IllegalStateException(
          s"IcebergLite: $tableDir: initial-default columns next to " +
            "non-parquet data files — the footer-presence split is " +
            "parquet scope")
      def fid(sf: StructField): Int =
        sf.metadata.getLong(FieldIdKey).toInt
      def defLit(sf: StructField) = {
        val raw = sf.metadata.getString(DefaultKey)
        sf.dataType match {
          case BinaryType =>
            // the spec's JSON single-value form for binary/fixed is a
            // HEX string — casting the string would store its UTF-8
            // bytes, a silently wrong default
            if (raw.length % 2 != 0 ||
              !raw.forall(c => Character.digit(c, 16) >= 0))
              throw new IllegalStateException(
                s"IcebergLite: field ${sf.name} carries a binary " +
                  s"initial-default that is not a hex string: '$raw'")
            lit(raw.grouped(2)
              .map(Integer.parseInt(_, 16).toByte).toArray).as(sf.name)
          case _ => lit(raw).cast(sf.dataType).as(sf.name)
        }
      }
      val fields = FooterSweep.parquetFields(spark, parquetFiles)
      val defIds = defaulted.map(fid)
      val groups = parquetFiles.groupBy { f =>
        val present = fields(f).flatMap(_._2).toSet
        defIds.filterNot(present.contains)
      }
      val metaCols =
        if (withMeta) Seq(col("_ice_path"), col("_ice_pos")) else Nil
      return groups.toSeq.sortBy(_._2.head).map { case (absent, fs) =>
        if (absent.isEmpty)
          meta(ColumnarScan(spark, tableDir, Some(snap.schema), fs))
        else {
          val readSchema = StructType(snap.schema.fields.toSeq
            .filterNot(sf => absent.contains(fid(sf))))
          meta(ColumnarScan(spark, tableDir, Some(readSchema), fs))
            .select(snap.schema.fields.toSeq.map { sf =>
              if (absent.contains(fid(sf))) defLit(sf) else col(sf.name)
            } ++ metaCols: _*)
        }
      }.reduce(_ unionByName _)
    }
    snap.nameMapping match {
      case Some(mapping) if parquetFiles.nonEmpty =>
        val fields = FooterSweep.parquetFields(spark, parquetFiles)
        val idLess = fields.collect {
          case (f, cols) if cols.forall(_._2.isEmpty) => f }.toSeq.sorted
        val withIds = fields.collect {
          case (f, cols) if cols.forall(_._2.nonEmpty) => f }.toSeq.sorted
        val partial =
          fields.keySet -- idLess.toSet -- withIds.toSet
        if (partial.nonEmpty) throw new IllegalStateException(
          s"IcebergLite: ${partial.toSeq.sorted.head} mixes id-stamped " +
            "and id-less columns — cannot pick a resolution mode")
        if (idLess.isEmpty)
          meta(ColumnarScan(spark, tableDir, Some(snap.schema),
            snap.files))
        else {
          val idLeg =
            if (withIds.isEmpty) Nil
            else Seq(meta(ColumnarScan(spark, tableDir,
              Some(snap.schema), withIds)))
          // per id-less file: the stored name serving each schema field
          val groups = idLess.groupBy { f =>
            val present = fields(f).map(_._1).toSet
            snap.schema.fields.toSeq.map { sf =>
              val id = sf.metadata.getLong(FieldIdKey).toInt
              val hits = mapping.getOrElse(id, Nil).filter(present)
              hits match {
                case Seq(one) => Some(one)
                case Seq() =>
                  if (!sf.nullable) throw new IllegalStateException(
                    s"IcebergLite: $f has no column the name mapping " +
                      s"assigns to required field ${sf.name} (id $id)")
                  None
                case many => throw new IllegalStateException(
                  s"IcebergLite: $f matches field id $id under SEVERAL " +
                    s"mapped names (${many.mkString(", ")}) — ambiguous")
              }
            }
          }
          val metaCols =
            if (withMeta) Seq(col("_ice_path"), col("_ice_pos")) else Nil
          val mappedLegs = groups.toSeq.sortBy(_._2.head)
            .map { case (sig, fs) =>
              val readSchema = StructType(
                snap.schema.fields.toSeq.zip(sig).collect {
                  // id-LESS read schema: field-id resolution must stay
                  // inert for these files
                  case (sf, Some(n)) => StructField(n, sf.dataType,
                    sf.nullable)
                })
              meta(spark.read.schema(readSchema).parquet(fs: _*))
                .select(snap.schema.fields.toSeq.zip(sig).map {
                  case (sf, Some(n)) => col(n).as(sf.name)
                  case (sf, None) =>
                    lit(null).cast(sf.dataType).as(sf.name)
                } ++ metaCols: _*)
            }
          (idLeg ++ mappedLegs).reduce(_ unionByName _)
        }
      case _ =>
        meta(ColumnarScan(spark, tableDir, Some(snap.schema), snap.files))
    }
  }

  /** Apply equality deletes as ONE LEFT ANTI join per COLUMN SET: a
    * data row is dead when it null-safe-matches a delete row on the
    * set's columns AND its file's sequence is STRICTLY below that
    * delete row's. Each delete file contributes its rows tagged with
    * its own sequence, so a thousand-commit history still plans a
    * handful of joins (column sets are schema-bounded), never a
    * thousand — the shape that survives 100 TB. Data rows learn their
    * sequence from a bounded (path → seq) lookup frame (one row per
    * data file — plan-time-sized, so Spark broadcasts it); delete
    * sides are delete-file-sized and auto-broadcast from parquet
    * statistics, falling back to shuffled joins when huge. A data row
    * matched by delete rows at several sequences survives only if its
    * own sequence is ≥ the delete MAX — exactly the per-row `<`
    * condition the single join expresses. */
  /** `flagAs = Some(name)`: instead of filtering (anti) or emitting
    * the matched rows, RETURN the input rows unchanged plus a boolean
    * column `name` = "this row is killed by some equality delete"
    * (null-safe key match, seq-gated as always). Row-preserving by
    * construction — each column set's keys collapse to one row per
    * key tuple (max delete seq), so the per-set LEFT joins cannot
    * duplicate — which is what lets [[readChanges]] fold its
    * positional and equality legs into ONE pass over the old files
    * (r21). */
  private[graft] def applyEqualityDeletes(spark: SparkSession,
                                          tableDir: String, snap: Snapshot,
                                          data: DataFrame,
                                          flagAs: Option[String] = None)
  : DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for (d <- snap.eqDeletes; (_, c) <- d.cols)
      if (!snap.schema.fieldNames.contains(c))
        throw new IllegalStateException(
          s"IcebergLite: equality delete ${d.path} names column $c " +
            "absent from the table schema")
    enableFieldIdRead(spark)
    val seqLookup = broadcast(
      snap.fileSeqs.toSeq.toDF("_seq_path", "_ice_seq"))
    // read() materializes _ice_path per scan leg (required for
    // name-mapped unions, where _metadata no longer resolves); a raw
    // single-scan caller (spec surface) still derives it here
    val hadPath = data.columns.contains("_ice_path")
    val withPath =
      if (hadPath) data
      else data.withColumn("_ice_path",
        MetaPaths.decoded(col("_metadata.file_path")))
    val withSeq = withPath
      .join(seqLookup, col("_ice_path") === col("_seq_path"), "left")
      // a data row whose seq lookup MISSED would carry a null
      // _ice_seq, null out the anti-join condition and silently
      // survive every equality delete — refuse loudly instead. The
      // guard rides the _ice_seq expression itself (no extra action):
      // any row whose sequence the join condition consults either has
      // one or throws.
      .withColumn("_ice_seq",
        when(col("_seq_path").isNotNull, col("_ice_seq"))
          .otherwise(raise_error(concat(
            lit("IcebergLite: data file "), col("_ice_path"),
            lit(" has no sequence-number entry — refusing to apply " +
              "equality deletes unordered")))))
      .drop("_seq_path")
    // delete-file columns resolve BY FIELD ID (a file written before
    // a rename stores the old spelling): the read schema carries the
    // ids under the CURRENT names. A requested id absent from a file
    // would read silently null — and null-safe-match null keys — so
    // every delete file's stored ids are checked first through ONE
    // footer sweep on the driver (one footer open per delete file).
    val storedIds: Map[String, Set[Int]] = FooterSweep
      .parquetFields(spark, snap.eqDeletes.map(_.path).distinct)
      .map { case (f, fields) => f -> fields.flatMap(_._2).toSet }
    val groups = snap.eqDeletes
      .groupBy(_.cols).toSeq.sortBy(_._1.map(_._2).mkString(","))
    def keysOf(cols: Seq[(Int, String)],
               group: Seq[EqDelete]): DataFrame = {
      val delSchema = StructType(cols.map { case (id, c) =>
        StructField(c, snap.schema(c).dataType, nullable = true,
          new MetadataBuilder().putLong(FieldIdKey, id.toLong).build())
      })
      group.map { d =>
        val stored = storedIds.getOrElse(d.path, Set.empty)
        val missing = cols.filterNot(c => stored.contains(c._1))
        if (missing.nonEmpty) throw new IllegalStateException(
          s"IcebergLite: equality delete file ${d.path} lacks field " +
            s"ids ${missing.map(_._1).mkString(", ")} " +
            s"(columns ${missing.map(_._2).mkString(", ")})")
        spark.read.schema(delSchema).parquet(d.path)
          .select(cols.map { case (_, c) => col(c).as(s"_del_$c") } :+
            lit(d.seq).as("_del_seq"): _*)
      }.reduce(_ unionAll _)
        // one key at its highest delete sequence decides the row
        .groupBy(cols.map { case (_, c) => col(s"_del_$c") }: _*)
        .agg(max(col("_del_seq")).as("_del_seq"))
    }
    def matchCond(in: DataFrame, cols: Seq[(Int, String)],
                  delKeys: DataFrame) =
      cols.map { case (_, c) => in(c) <=> delKeys(s"_del_$c") }
        .reduce(_ && _) && in("_ice_seq") < delKeys("_del_seq")
    if (flagAs.isDefined) {
      // flag mode (the incremental net-diff's single-pass shape): one
      // LEFT join per column set over the same input; a row matches at
      // most one (unique, max-seq) key row per set, so the joins are
      // row-preserving and the flag is just "any set's key survived
      // the join" — no second branch over the input, no identity dedup
      val bits = groups.indices.map(i => s"_eq_hit_$i")
      val flagged = groups.zipWithIndex.foldLeft(withSeq) {
        case (acc, ((cols, group), i)) =>
          val delKeys = keysOf(cols, group)
          acc.join(delKeys, matchCond(acc, cols, delKeys), "left_outer")
            .withColumn(bits(i), col("_del_seq").isNotNull)
            .drop(cols.map { case (_, c) => s"_del_$c" } :+ "_del_seq": _*)
      }
      val out = flagged
        .withColumn(flagAs.get,
          bits.map(col).reduceOption(_ || _).getOrElse(lit(false)))
        .drop(bits: _*)
        .drop("_ice_seq")
      if (hadPath) out else out.drop("_ice_path")
    } else {
      val applied = groups.foldLeft(withSeq) { case (acc, (cols, group)) =>
        val delKeys = keysOf(cols, group)
        acc.join(delKeys, matchCond(acc, cols, delKeys), "left_anti")
      }
      val out = applied.drop("_ice_seq")
      if (hadPath) out else out.drop("_ice_path")
    }
  }

  /** REWRITE-DATA-FILES compaction (the library's
    * `rewrite_data_files` + `rewrite_position_delete_files` in one
    * move): pack the current snapshot's LIVE rows — every delete
    * surface applied: positional files, format-v3 deletion vectors,
    * equality deletes — into `numFiles` fresh id-stamped parquet
    * files, publish a REPLACE snapshot whose manifest list carries
    * ONLY the new data manifest (the old data and delete manifests
    * drop out), and roll the metadata version. All other metadata
    * (refs, properties, schemas, format-version) is carried verbatim,
    * so tags/branches keep pinning their historical snapshots.
    * Returns the new snapshot id.
    *
    * Incremental/changes consumers see this correctly by refusing:
    * the replace snapshot DROPS files, which [[readIncremental]] and
    * [[readChanges]] name loudly rather than mis-serving as churn.
    *
    * Scale shape: one distributed live-row scan + executor parquet
    * write, then O(files) driver footer reads + metadata writes.
    * Single-writer scope.
    *
    * Partitioned tables pack WITHIN each partition: the one scan is
    * salted on (partition source columns, bin) and written through
    * `partitionBy` on DUPLICATED partition columns, so the identity
    * columns stay IN the data files (the spec stores them there —
    * this reader scans them natively) while the writer guarantees
    * partition-pure files. The new manifest is spec-complete: each
    * data_file carries file_format, record_count (from the parquet
    * footer), file_size_in_bytes, and the typed partition struct —
    * external readers plan on these, so placeholders would break
    * them.
    *
    * Partition TRANSFORMS are recomputed at rewrite time from the
    * spec ([[IcebergTransforms]]): identity, bucket[N] with the
    * format's exact murmur3 (int/long/string/date), truncate[W]
    * (int/long/string, toward negative infinity) and
    * days/months/years (date) — the manifest's partition struct
    * carries the TRANSFORM result type (e.g. int bucket ordinals).
    *
    * Loud refusals: transform/source combinations beyond the above
    * (hours, timestamp sources, …), null partition values, and
    * partition source types beyond int/long/string/date/boolean. */
  def compact(spark: SparkSession, tableDir: String,
              numFiles: Int = 1): Long = {
    import org.apache.spark.sql.functions.{col, lit, struct, pmod,
      xxhash64}
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val (w, snap) = resolved(spark, tableDir)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: nothing to compact (no data files)")
    val ids: Map[String, Int] = snap.schema.fields.map { f =>
      if (!f.metadata.contains(FieldIdKey)) throw new IllegalStateException(
        s"$tableDir: schema field ${f.name} carries no field id — " +
          "cannot stamp the rewrite")
      f.name -> f.metadata.getLong(FieldIdKey).toInt
    }.toMap
    val partFields = resolvedPartFields(tableDir, w.meta.json, snap)
    val newSnapId = w.meta.snapshotIds.max + 1
    // stamp the replace manifest at a FRESH resolvable sequence when
    // the pre-compact sequences resolve, so row-level DML writers
    // can order themselves against the compacted table (a rewrite
    // commits at a new data sequence — its rows already carry every
    // prior delete applied); legacy seq-less tables keep the
    // unstamped list, preserving their read behavior. snap.maxSeq
    // comes free from the snapshot parse — no manifest re-read.
    val compactSeq: Option[Long] = snap.maxSeq.map(_ + 1)
    val fs = w.meta.fs
    // one distributed scan of the live rows (full delete surface
    // applied), id-stamped so the spec's column identity survives,
    // packed into numFiles under the deterministic content-hash salt
    val stamped = stampFieldIds(readSnapshot(spark, tableDir, snap), ids)
    val moved = try stageTransformed(spark, tableDir, fs, stamped,
      partFields, "compact", newSnapId, packFiles = Some(numFiles))
    catch {
      // a partitioned staging write of ZERO live rows produces no
      // part files at all — refuse with the real story rather than
      // rewriting a fully-deleted table into an empty snapshot
      case e: IllegalStateException
        if e.getMessage != null &&
          e.getMessage.contains("staged no parquet") =>
        throw new IllegalStateException(
          s"$tableDir: compaction found NO live rows (every row is " +
            "deleted) — nothing to rewrite; expire snapshots and " +
            "reclaim files instead", e)
    }
    val files = LakeFiles.Hadoop(fs, tableDir)
    import spark.implicits._
    files.avro(stagedDataManifestDf(spark, moved, partFields,
      seq = None, fileFormat = true),
      s"metadata/m-compact-$newSnapId.avro")
    files.avro(compactSeq match {
      case Some(sq) => Seq((s"metadata/m-compact-$newSnapId.avro", 0, sq))
        .toDF("manifest_path", "content", "sequence_number")
      case None => Seq((s"metadata/m-compact-$newSnapId.avro", 0))
        .toDF("manifest_path", "content")
    },
      s"metadata/snap-$newSnapId.avro")
    // roll the metadata: append the replace snapshot, point current at
    // it, carry EVERYTHING else verbatim (refs keep their pins)
    rollMetadata(w.meta, newSnapId, "replace")
    newSnapId
  }

  /** The sequence number a new commit on `w` stamps: one above every
    * live entry's. A live entry with no resolvable sequence refuses (a
    * new delete could not be ordered against it). */
  private def nextSeq(w: Walk): Long = w.maxSeq.map(_ + 1).getOrElse {
    throw new IllegalStateException(
      s"${w.live.find(_.seq.isEmpty).get.manifest}: live manifest entry " +
        "without a resolvable sequence number — a new write cannot be " +
        "ordered against it; outside lite write scope")
  }

  /** The current manifest-list rows as (path, content, sequence) —
    * what a new manifest list re-lists before its own manifests. */
  private def oldRows(w: Walk): Seq[(String, Option[Int], Option[Long])] =
    w.manifests.map(r => (r.path, r.content, r.seq))

  /** EQUALITY-DELETE write (format v2 row-level deletes, the
    * PK-style flow): commit a content=2 delete file whose rows are
    * `keys`' DISTINCT tuples — every data row matching one of them
    * null-safely on the key columns dies, provided its data file's
    * sequence number is STRICTLY LOWER than the delete's (so rows
    * re-inserted at or after the delete survive, the spec's rule this
    * reader already enforces). The new snapshot re-lists every
    * existing manifest with its original sequence number and adds ONE
    * delete manifest stamped `sequence = max(all live sequences) + 1`.
    * Returns the new snapshot id.
    *
    * SEQUENCE GATE (what makes the write sound): every live entry of
    * the current snapshot must resolve a sequence number (its own or
    * the manifest-list row's inherited one) — a seq-less data file
    * cannot be ordered against the delete, so the write REFUSES
    * rather than committing a delete that readers must then refuse.
    *
    * Scale shape: the key set writes as one distributed-scan-derived
    * parquet file (delete keys are change-volume, not table-volume);
    * everything else is bounded manifest metadata. Single-writer
    * scope. */
  def eqDelete(spark: SparkSession, tableDir: String,
               keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.{array, col, lit, struct}
    import spark.implicits._
    val (w, snap) = resolved(spark, tableDir)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: no data files to delete from")
    require(keys.columns.nonEmpty, "eqDelete needs at least one key column")
    val eqIds: Seq[Int] = keys.columns.toSeq.map { c =>
      val f = snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"$tableDir: eqDelete key column $c is not in the schema"))
      if (!f.metadata.contains(FieldIdKey)) throw new IllegalStateException(
        s"$tableDir: schema field $c carries no field id — cannot " +
          "stamp equality_ids")
      f.metadata.getLong(FieldIdKey).toInt
    }
    val fs = w.meta.fs
    val newSeq = nextSeq(w)
    val newSnapId = w.meta.snapshotIds.max + 1
    // the delete file itself: distinct key tuples, field ids stamped
    val delRel = s"data/eqdel-$newSnapId.parquet"
    val dest = new Path(tableDir, delRel)
    LakeFiles.stage(fs,
      stampFieldIds(keys.distinct(), keys.columns.zip(eqIds).toMap),
      "parquet", new Path(tableDir, "_tmp_eqdel"), dest)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        dest, fs.getConf))
    val rc = try footer.getRecordCount finally footer.close()
    val size = fs.getFileStatus(dest).getLen
    val files = LakeFiles.Hadoop(fs, tableDir)
    files.avro(Seq((1, newSeq, delRel))
      .toDF("status", "sequence_number", "file_path")
      .select(col("status"), col("sequence_number"),
        struct(col("file_path"), lit(2).as("content"),
          array(eqIds.map(lit(_)): _*).as("equality_ids"),
          lit(rc).as("record_count"),
          lit(size).as("file_size_in_bytes")).as("data_file")),
      s"metadata/m-eqdel-$newSnapId.avro")
    files.avro((oldRows(w) :+ ((s"metadata/m-eqdel-$newSnapId.avro",
      Some(1): Option[Int], Some(newSeq): Option[Long])))
      .toDF("manifest_path", "content", "sequence_number"),
      s"metadata/snap-$newSnapId.avro")
    rollMetadata(w.meta, newSnapId, "delete")
    newSnapId
  }

  /** Append snapshot `newSnapId` (manifest list
    * `metadata/snap-<id>.avro`, already written) to `meta` and
    * [[publish]] the next version — the write paths' shared ATOMIC
    * commit. */
  private def rollMetadata(meta: Meta, newSnapId: Long,
                           operation: String): Unit = {
    val newSnapJson: JValue = JObject(
      "snapshot-id" -> JInt(newSnapId),
      "manifest-list" -> JString(s"metadata/snap-$newSnapId.avro"),
      "summary" -> JObject("operation" -> JString(operation)))
    val withSnap = meta.json transformField {
      case ("snapshots", JArray(ss)) =>
        ("snapshots", JArray(ss :+ newSnapJson))
      case ("current-snapshot-id", _) =>
        ("current-snapshot-id", JInt(newSnapId))
    }
    publish(meta.fs, meta.tableDir, meta.version + 1,
      JsonMethods.compact(JsonMethods.render(withSnap)))
  }

  /** Resolve the CURRENT partition spec's transform fields over
    * `snap`'s schema — (resolved transform, source column) per spec
    * field, EMPTY for an unpartitioned table. v2 tables choose the
    * default-spec-id entry of partition-specs; legacy tables the
    * flat partition-spec. Unsupported transform/source combinations
    * refuse loudly in [[IcebergTransforms.resolve]]. */
  private def resolvedPartFields(tableDir: String, meta: JValue,
                                 snap: Snapshot)
  : Seq[(IcebergTransforms.Resolved, String)] = {
    def specFields(j: JValue): Seq[JValue] = j match {
      case JArray(fs) => fs
      case _ => Nil
    }
    val cur: Seq[JValue] = (meta \ "partition-specs") match {
      case JArray(specs) if specs.nonEmpty =>
        val chosen = (meta \ "default-spec-id").extractOpt[Int]
          .flatMap(id => specs.find(s =>
            (s \ "spec-id").extractOpt[Int].contains(id)))
          .orElse(specs.lastOption)
        chosen.map(s => specFields(s \ "fields")).getOrElse(Nil)
      case _ => specFields(meta \ "partition-spec")
    }
    val idToName = snap.schema.fields.flatMap { f =>
      if (f.metadata.contains(FieldIdKey))
        Some(f.metadata.getLong(FieldIdKey).toInt -> f.name)
      else None
    }.toMap
    cur.map { f =>
      val transform = (f \ "transform").extract[String]
      val srcId = (f \ "source-id").extract[Int]
      val src = idToName.getOrElse(srcId,
        throw new IllegalStateException(
          s"$tableDir: partition source-id $srcId not in the schema"))
      (IcebergTransforms.resolve(tableDir,
        (f \ "name").extract[String], transform,
        snap.schema(src).dataType), src)
    }
  }

  /** Stage `df` (already field-id-stamped) under the spec's
    * TRANSFORM partitioning and move every staged parquet into the
    * table as `data/<field>=<val>/…/<tag>-<snapId>_<i>.parquet`,
    * returning (relative path, UNESCAPED partition values in spec
    * order, footer row count, byte size) per file — the shared
    * staging finish of [[compact]], [[update]] and [[upsertKeyed]].
    *
    * `packFiles = Some(n)` packs the write into n files per
    * partition under a DETERMINISTIC content-hash salt (a
    * retry-recomputed monotonically_increasing_id can silently
    * duplicate/drop rows mid-shuffle, SPARK-23207 class — fatal in a
    * table rewrite); None shuffles one file per partition (the DML
    * append shape — bounded file counts without a repack job).
    * Unpartitioned specs stage flat under `data/`. Null partition
    * values refuse (outside lite scope). */
  private def stageTransformed(spark: SparkSession, tableDir: String,
                               fs: org.apache.hadoop.fs.FileSystem,
                               df: DataFrame,
                               partFields: Seq[(IcebergTransforms.Resolved, String)],
                               tag: String, snapId: Long,
                               packFiles: Option[Int])
  : Seq[(String, Seq[String], Long, Long)] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val tmp = new Path(tableDir, s"_tmp_$tag")
    if (partFields.isEmpty) {
      val packed = packFiles.map(df.coalesce).getOrElse(df)
      packed.write.mode("overwrite").parquet(tmp.toString)
    } else {
      // partitionBy consumes its columns, so stage each spec field's
      // TRANSFORMED value under gpart_* — the data files keep the
      // real columns, the writer still splits by partition directory
      val gparts = partFields.map(p => s"gpart_${p._1.name}")
      val dup = partFields.foldLeft(df) { case (d, (r, src)) =>
        d.withColumn(s"gpart_${r.name}", r.expr(col(src)))
      }
      val shuffled = packFiles match {
        case Some(n) => dup
          .withColumn("_graft_bin",
            pmod(xxhash64(df.columns.map(col).toSeq: _*),
              lit(n.toLong)))
          .repartition((gparts :+ "_graft_bin").map(col): _*)
          .drop("_graft_bin")
        case None => dup.repartition(gparts.map(col): _*)
      }
      shuffled.write.mode("overwrite")
        .partitionBy(gparts: _*).parquet(tmp.toString)
    }
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // walk the staging output: (escaped dir values in spec order,
    // unescaped values, file status)
    def walkTmp(dir: Path, raws: Seq[String], vals: Seq[String])
      : Seq[(Seq[String], Seq[String],
             org.apache.hadoop.fs.FileStatus)] =
      fs.listStatus(dir).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) {
          val i = n.indexOf('=')
          if (i < 0) throw new IllegalStateException(
            s"$tableDir: unexpected non-partition directory $n in " +
              "the staging output")
          val rawVal = n.substring(i + 1)
          if (rawVal == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            throw new IllegalStateException(
              s"$tableDir: the $tag write produced a null-partition " +
                s"directory $n — outside lite scope")
          walkTmp(st.getPath, raws :+ rawVal,
            vals :+ ExternalCatalogUtils.unescapePathName(rawVal))
        } else if (n.endsWith(".parquet")) Seq((raws, vals, st))
        else Nil
      }
    val outputs = walkTmp(tmp, Nil, Nil)
    if (outputs.isEmpty) throw new IllegalStateException(
      s"$tableDir: $tag staged no parquet")
    // move into the table under the spec-field names, read each
    // footer's row count (O(files) bounded driver work)
    val moved = outputs.zipWithIndex.map { case ((raws, vals, st), i) =>
      val dirs = partFields.map(_._1.name).zip(raws)
        .map { case (nm, raw) => s"$nm=$raw" }
      val rel = (("data" +: dirs) :+
        s"$tag-${snapId}_$i.parquet").mkString("/")
      val dest = new Path(tableDir, rel)
      LakeFiles.move(fs, st.getPath, dest)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          dest, fs.getConf))
      val recordCount = try footer.getRecordCount finally footer.close()
      (rel, vals, recordCount, fs.getFileStatus(dest).getLen)
    }
    fs.delete(tmp, true)
    moved
  }

  /** The typed partition struct rows for [[stageTransformed]]'s
    * output — each file's dir-name values parsed back under the
    * TRANSFORM result types, as (rel, typed Row, rc, size); the
    * manifest writers attach them as the spec's
    * `data_file.partition`. */
  private def typedPartRows(
      moved: Seq[(String, Seq[String], Long, Long)],
      partFields: Seq[(IcebergTransforms.Resolved, String)])
  : (org.apache.spark.sql.types.StructType,
     Seq[(String, org.apache.spark.sql.Row, Long, Long)]) = {
    val partSchema = org.apache.spark.sql.types.StructType(
      partFields.map { case (r, _) =>
        org.apache.spark.sql.types.StructField(r.name, r.resultType)
      })
    (partSchema, moved.map { case (rel, vals, rc, sz) =>
      (rel, org.apache.spark.sql.Row(
        partFields.zip(vals).map { case ((r, _), v) => r.parse(v) }: _*),
        rc, sz)
    })
  }

  /** The content=0 DATA manifest rows for a [[stageTransformed]]
    * output — the typed partition struct attaches when the spec is
    * partitioned ([[typedPartRows]]), so external planners and the
    * `files`/`partitions` metadata tables see real partition tuples.
    * `seq = Some(n)` stamps each entry's sequence_number (the DML
    * writers' explicit form); None leaves it to manifest-list
    * inheritance (compact's form). `fileFormat` adds the "PARQUET"
    * literal compact's entries carry. */
  private def stagedDataManifestDf(spark: SparkSession,
      moved: Seq[(String, Seq[String], Long, Long)],
      partFields: Seq[(IcebergTransforms.Resolved, String)],
      seq: Option[Long], fileFormat: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    import spark.implicits._
    val baseCols = Seq(col("_fp").as("file_path"),
      lit(0).as("content")) ++
      (if (fileFormat) Seq(lit("PARQUET").as("file_format")) else Nil) ++
      Seq(col("_rc").as("record_count"),
        col("_sz").as("file_size_in_bytes"))
    val headCols = Seq(lit(1).as("status")) ++
      seq.map(sq => lit(sq).as("sequence_number"))
    if (partFields.isEmpty)
      moved.map(m => (m._1, m._3, m._4)).toDF("_fp", "_rc", "_sz")
        .select(headCols :+
          struct(baseCols: _*).as("data_file"): _*)
    else {
      val (partSchema, typed) = typedPartRows(moved, partFields)
      val rowSchema = StructType(Seq(
        StructField("_fp", StringType), StructField("_rc", LongType),
        StructField("_sz", LongType), StructField("_pv", partSchema)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          typed.map { case (rel, pv, rc, sz) =>
            org.apache.spark.sql.Row(rel, rc, sz, pv) }, 1),
        rowSchema)
        .select(headCols :+
          struct(baseCols :+ col("_pv").as("partition"): _*)
            .as("data_file"): _*)
    }
  }

  /** Move every staged parquet under `tmp` into the table as
    * `<relPrefix>-<snapId>_<i>.parquet`, returning (relative path,
    * footer row count, byte size) per file — the FLAT (unpartitioned
    * dir) staging finish the delete-file legs use;
    * [[stageTransformed]] is the partition-aware sibling. */
  private def moveStagedParquet(spark: SparkSession, tableDir: String,
                                fs: org.apache.hadoop.fs.FileSystem,
                                tmp: Path, relPrefix: String,
                                newSnapId: Long)
  : Seq[(String, Long, Long)] = {
    val parts = fs.listStatus(tmp).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith(".")).sortBy(_.getName)
    if (parts.isEmpty) throw new IllegalStateException(
      s"$tableDir: $relPrefix staged no parquet")
    val out = parts.zipWithIndex.map { case (p, i) =>
      val rel = s"$relPrefix-${newSnapId}_$i.parquet"
      val dest = new Path(tableDir, rel)
      LakeFiles.move(fs, p, dest)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          dest, fs.getConf))
      val rc = try footer.getRecordCount finally footer.close()
      (rel, rc, fs.getFileStatus(dest).getLen)
    }.toSeq
    fs.delete(tmp, true)
    out
  }

  /** ROW-LEVEL DELETE by predicate — Iceberg's merge-on-read DELETE
    * (`write.delete.mode=merge-on-read`): rows matching `condition`
    * on the CURRENT resolved view (existing DV/positional/equality
    * deletes applied first — a row already dead never re-deletes)
    * die as POSITIONAL delete files: the spec's (file_path, pos)
    * parquet rows, sorted by file then ordinal, field ids 2147483546/
    * 2147483545 stamped, committed as one content=1 (DELETES)
    * manifest at a fresh sequence in a new snapshot. The standard
    * positional anti-join then serves the delete; data appended
    * AFTER it lives in new files and is untouched. Returns the new
    * snapshot id — the CURRENT one, with no commit, when nothing
    * matched.
    *
    * Scale shape: ONE resolved scan under the predicate feeds the
    * distributed delete-file write (matched positions never visit
    * the driver; several staged files each become a manifest entry);
    * the driver handles bounded manifest metadata + one atomic
    * metadata roll. Single-writer scope. */
  def delete(spark: SparkSession, tableDir: String,
             condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    import spark.implicits._
    val (w, snap) = resolved(spark, tableDir)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: no data files to delete from")
    val fs = w.meta.fs
    val data = scanData(spark, tableDir, snap, withMeta = true)
    val live = applyDeleteChain(spark, tableDir, snap, data)
    val matched = live.filter(condition)
      .select(col("_ice_path").as("file_path"),
        col("_ice_pos").cast("long").as("pos"))
    if (matched.limit(1).count() == 0) return snap.snapshotId
    val newSeq = nextSeq(w)
    val newSnapId = w.meta.snapshotIds.max + 1
    // the spec orders positional delete rows by (file_path, pos);
    // a range-partitioned sorted write keeps every staged file sorted
    val tmp = new Path(tableDir, "_tmp_posdel")
    stampFieldIds(matched.orderBy(col("file_path"), col("pos")),
      Map("file_path" -> 2147483546, "pos" -> 2147483545))
      .write.mode("overwrite").parquet(tmp.toString)
    val delFiles = moveStagedParquet(spark, tableDir, fs, tmp,
      "data/posdel", newSnapId)
    val files = LakeFiles.Hadoop(fs, tableDir)
    files.avro(delFiles
      .toDF("file_path", "record_count", "file_size_in_bytes")
      .select(lit(1).as("status"), lit(newSeq).as("sequence_number"),
        struct(col("file_path"), lit(1).as("content"),
          col("record_count"), col("file_size_in_bytes"))
          .as("data_file")),
      s"metadata/m-posdel-$newSnapId.avro")
    files.avro((oldRows(w) :+ ((s"metadata/m-posdel-$newSnapId.avro",
      Some(1): Option[Int], Some(newSeq): Option[Long])))
      .toDF("manifest_path", "content", "sequence_number"),
      s"metadata/snap-$newSnapId.avro")
    rollMetadata(w.meta, newSnapId, "delete")
    newSnapId
  }

  /** ROW-LEVEL UPDATE by predicate — merge-on-read UPDATE
    * (`write.update.mode=merge-on-read`), ONE snapshot: rows matching
    * `condition` on the resolved view die as POSITIONAL delete files
    * while their SET-applied rewrites append as new data files, both
    * manifests riding one manifest list at one fresh sequence — a
    * reader at any snapshot sees the delete and the rewrite together
    * or not at all. Returns the new snapshot id — the CURRENT one,
    * with no commit, when nothing matched.
    *
    * Scale shape: ONE resolved scan under the predicate feeds both
    * distributed writes; bounded driver metadata + one atomic roll.
    * PARTITIONED tables serve: the rewrite leg stages under the
    * spec's transforms (identity/bucket/truncate/temporal —
    * [[stageTransformed]], compact's own path) and its manifest
    * entries carry the typed partition struct, so a SET that moves a
    * row across partitions lands it under its recomputed values; the
    * positional delete files are path-scoped (this reader applies
    * them by file path, partition-independent). Single-writer scope.
    * Loud refusals: unknown SET columns, unsupported
    * transform/source combinations, null partition values. */
  def update(spark: SparkSession, tableDir: String,
             condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    import spark.implicits._
    val (w, snap) = resolved(spark, tableDir)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: no data files to update")
    require(set.nonEmpty, "update needs at least one SET column")
    set.keys.foreach { c =>
      if (!snap.schema.fieldNames.contains(c))
        throw new IllegalStateException(
          s"$tableDir: SET column $c is not in the schema")
    }
    // partitioned tables SERVE: the rewrite leg stages under the
    // spec's transforms exactly like compact's rewrite, so a SET
    // that moves a row across partitions lands it under its new
    // values (recomputed from the row at stage time)
    val partFields = resolvedPartFields(tableDir, w.meta.json, snap)
    val fs = w.meta.fs
    val data = scanData(spark, tableDir, snap, withMeta = true)
    val live = applyDeleteChain(spark, tableDir, snap, data)
    val matchedRows = live.filter(condition)
    val matched = matchedRows
      .select(col("_ice_path").as("file_path"),
        col("_ice_pos").cast("long").as("pos"))
    if (matched.limit(1).count() == 0) return snap.snapshotId
    val newSeq = nextSeq(w)
    val newSnapId = w.meta.snapshotIds.max + 1
    val tmpDel = new Path(tableDir, "_tmp_updposdel")
    stampFieldIds(matched.orderBy(col("file_path"), col("pos")),
      Map("file_path" -> 2147483546, "pos" -> 2147483545))
      .write.mode("overwrite").parquet(tmpDel.toString)
    val delFiles = moveStagedParquet(spark, tableDir, fs, tmpDel,
      "data/upddel", newSnapId)
    def fieldId(c: String): Int = {
      val f = snap.schema.fields.find(_.name == c).get
      if (!f.metadata.contains(FieldIdKey))
        throw new IllegalStateException(
          s"$tableDir: schema field $c carries no field id — cannot " +
            "stamp the rewrite")
      f.metadata.getLong(FieldIdKey).toInt
    }
    val updated = set.foldLeft(
      matchedRows.drop("_ice_path", "_ice_pos")) { case (df, (c, e)) =>
      df.withColumn(c, e.cast(snap.schema(c).dataType))
    }.select(snap.schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val dataFiles = stageTransformed(spark, tableDir, fs,
      stampFieldIds(updated,
        snap.schema.fieldNames.map(c => c -> fieldId(c)).toMap),
      partFields, "upddata", newSnapId, packFiles = None)
    val files = LakeFiles.Hadoop(fs, tableDir)
    files.avro(delFiles
      .toDF("file_path", "record_count", "file_size_in_bytes")
      .select(lit(1).as("status"), lit(newSeq).as("sequence_number"),
        struct(col("file_path"), lit(1).as("content"),
          col("record_count"), col("file_size_in_bytes"))
          .as("data_file")),
      s"metadata/m-upddel-$newSnapId.avro")
    files.avro(stagedDataManifestDf(spark, dataFiles, partFields,
      seq = Some(newSeq)),
      s"metadata/m-upddata-$newSnapId.avro")
    files.avro((oldRows(w) ++ Seq(
      (s"metadata/m-upddel-$newSnapId.avro",
        Some(1): Option[Int], Some(newSeq): Option[Long]),
      (s"metadata/m-upddata-$newSnapId.avro",
        Some(0): Option[Int], Some(newSeq): Option[Long])))
      .toDF("manifest_path", "content", "sequence_number"),
      s"metadata/snap-$newSnapId.avro")
    rollMetadata(w.meta, newSnapId, "overwrite")
    newSnapId
  }

  /** ONE-SNAPSHOT keyed UPDATE (upsert): commit an equality-delete
    * file on `keyCols` AND the new row versions in a SINGLE snapshot
    * — both manifests at the same fresh sequence number, so the
    * spec's STRICT `data_seq < delete_seq` ordering kills exactly the
    * OLD versions while the appended rows survive, and a reader at
    * any snapshot sees the delete and the append together or not at
    * all (the two-snapshot eqDelete+append composition is not atomic;
    * this is). Keys new to the table simply insert (their delete
    * matches nothing). Returns the new snapshot id.
    *
    * Scale shape: the delete file is the rows' DISTINCT key tuples;
    * the data files stage through one executor write (each staged
    * part becomes a manifest entry); the driver handles bounded
    * manifest metadata + one atomic metadata roll. PARTITIONED
    * tables serve: the data leg stages under the spec's transforms
    * with typed partition structs in its manifest
    * ([[stageTransformed]], compact's own path); the equality-delete
    * file stays GLOBAL — the spec admits equality deletes under an
    * unpartitioned spec that apply to the whole table, which is
    * exactly how this reader applies them (key match + strict
    * sequence ordering, partition-independent). Single-writer scope.
    * Loud refusals: duplicate key tuples in one batch, rows missing
    * schema columns, key columns without field ids. */
  def upsertKeyed(spark: SparkSession, tableDir: String,
                  rows: DataFrame, keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{array, col, lit, struct}
    import spark.implicits._
    val (w, snap) = resolved(spark, tableDir)
    require(keyCols.nonEmpty, "upsertKeyed needs at least one key column")
    // partitioned tables SERVE: the data leg stages under the spec's
    // transforms; the equality delete stays global (see scaladoc)
    val partFields = resolvedPartFields(tableDir, w.meta.json, snap)
    val missing = snap.schema.fieldNames.filterNot(rows.columns.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"$tableDir: upsertKeyed input lacks schema columns " +
        missing.mkString(", "))
    def fieldId(c: String): Int = {
      val f = snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"$tableDir: column $c is not in the schema"))
      if (!f.metadata.contains(FieldIdKey))
        throw new IllegalStateException(
          s"$tableDir: schema field $c carries no field id — cannot " +
            "stamp the write")
      f.metadata.getLong(FieldIdKey).toInt
    }
    val eqIds = keyCols.map(fieldId)
    val allIds = snap.schema.fieldNames.map(c => c -> fieldId(c)).toMap
    val fs = w.meta.fs
    val newSeq = nextSeq(w)
    val newSnapId = w.meta.snapshotIds.max + 1
    def moveStaged(tmp: Path, relPrefix: String)
    : Seq[(String, Long, Long)] =
      moveStagedParquet(spark, tableDir, fs, tmp, relPrefix, newSnapId)
    // both legs run off the SCHEMA-CAST rows so the equality-delete
    // file's key columns carry the table's types, and the duplicate
    // check sees keys that collapse under the cast
    val typed = rows.select(snap.schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    // duplicate key tuples in one batch would BOTH survive: the data
    // leg appends them at newSeq while the delete leg (same newSeq,
    // strict data_seq < delete_seq) kills neither — refuse loudly
    // like the Delta/Paimon/Hudi keyed writers
    if (typed.groupBy(keyCols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count() > 0)
      throw new IllegalStateException(
        s"$tableDir: upsert batch has DUPLICATE key tuples — both " +
          "copies would survive the same-sequence equality delete")
    // the delete leg: the rows' DISTINCT key tuples
    val tmpDel = new Path(tableDir, "_tmp_upskdel")
    stampFieldIds(typed.select(keyCols.map(col): _*).distinct(),
      keyCols.zip(eqIds).toMap)
      .coalesce(1).write.mode("overwrite").parquet(tmpDel.toString)
    val Seq((delRel, delRc, delSize)) = moveStaged(tmpDel, "data/upskdel")
    // the data leg: the new row versions, full schema, ids stamped,
    // staged under the spec's transforms (typed partition structs in
    // the manifest when partitioned)
    val dataFiles = stageTransformed(spark, tableDir, fs,
      stampFieldIds(typed, allIds), partFields, "upskdata",
      newSnapId, packFiles = None)
    val files = LakeFiles.Hadoop(fs, tableDir)
    files.avro(Seq((1, newSeq, delRel))
      .toDF("status", "sequence_number", "file_path")
      .select(col("status"), col("sequence_number"),
        struct(col("file_path"), lit(2).as("content"),
          array(eqIds.map(lit(_)): _*).as("equality_ids"),
          lit(delRc).as("record_count"),
          lit(delSize).as("file_size_in_bytes")).as("data_file")),
      s"metadata/m-upskdel-$newSnapId.avro")
    files.avro(stagedDataManifestDf(spark, dataFiles, partFields,
      seq = Some(newSeq)),
      s"metadata/m-upskdata-$newSnapId.avro")
    // BOTH new manifests ride ONE manifest list at ONE sequence — the
    // atomicity the two-snapshot composition lacks
    files.avro((oldRows(w) ++ Seq(
      (s"metadata/m-upskdel-$newSnapId.avro",
        Some(1): Option[Int], Some(newSeq): Option[Long]),
      (s"metadata/m-upskdata-$newSnapId.avro",
        Some(0): Option[Int], Some(newSeq): Option[Long])))
      .toDF("manifest_path", "content", "sequence_number"),
      s"metadata/snap-$newSnapId.avro")
    rollMetadata(w.meta, newSnapId, "overwrite")
    newSnapId
  }

  /** EXPIRE-SNAPSHOTS maintenance (the library's `expire_snapshots`
    * procedure): retain the LAST `keepLast` snapshots
    * (metadata-list order — append-only history), roll a metadata
    * version whose snapshots array holds only the retained ones, and
    * DELETE every file referenced ONLY by expired snapshots — their
    * manifest lists, manifests, data files, delete files, and DV
    * Puffin files. Travel to an expired id then refuses through
    * [[snapshot]]'s own unknown-id gate, listing what remains.
    * Returns the expired snapshot ids (empty when nothing expires).
    *
    * Loud refusals: a named ref (branch/tag) pinning an expiring
    * snapshot — expiry would break the pin, so drop the ref first.
    * All work is bounded metadata (one manifest-list + manifest read
    * per snapshot) plus O(orphans) deletes. Single-writer scope. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
                      keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val m = loadMeta(spark, tableDir)
    val meta = m.json
    val ids = m.snapshotIds
    if (ids.size <= keepLast) return Nil
    val (expired, retained) = ids.splitAt(ids.size - keepLast)
    // the main table pointer is a pin too: a rolled-back table whose
    // current-snapshot-id targets an older snapshot must not have that
    // snapshot expired out from under it (same contract as named refs)
    m.currentId.foreach { cur =>
      if (expired.contains(cur)) throw new IllegalStateException(
        s"$tableDir: current-snapshot-id $cur is not among the last " +
          s"$keepLast snapshots (rolled-back table) — this expiry " +
          "would drop the CURRENT snapshot; roll forward or raise " +
          "keepLast")
    }
    (meta \ "refs") match {
      case JObject(refs) => refs.foreach { case (name, r) =>
        (r \ "snapshot-id").extractOpt[Long].foreach { sid =>
          if (expired.contains(sid)) throw new IllegalStateException(
            s"$tableDir: ref '$name' pins snapshot $sid, which this " +
              s"expiry would drop — remove the ref first")
        }
      }
      case _ =>
    }
    // every path a snapshot references: its manifest list, manifests,
    // and data/delete/DV files (all resolved for set comparison)
    def pathsOf(sid: Long): Set[String] = {
      val w = walk(spark, m, Some(sid))
      val snap = toSnapshot(w)
      (Seq(resolve(tableDir, m.manifestList(sid))) ++
        w.manifests.map(r => resolve(tableDir, r.path)) ++
        snap.files ++ snap.deleteFiles ++ snap.eqDeletes.map(_.path) ++
        snap.dvs.map(_.path)).toSet
    }
    val retainedPaths = retained.flatMap(pathsOf).toSet
    val orphans = expired.flatMap(pathsOf).toSet -- retainedPaths
    // roll the metadata FIRST (a crash between steps leaves a valid
    // table plus unreferenced files — never a dangling reference)
    val withSnaps = meta transformField {
      case ("snapshots", JArray(ss)) =>
        ("snapshots", JArray(ss.filter(s =>
          (s \ "snapshot-id").extractOpt[Long].exists(retained.contains))))
    }
    publish(m.fs, tableDir, m.version + 1,
      JsonMethods.compact(JsonMethods.render(withSnaps)))
    // Iceberg metadata routinely carries absolute paths that can live
    // OUTSIDE the table root (imported/registered files, shared
    // locations) — never delete those, mirroring DeltaLogLite.vacuum's
    // root-containment guard for clone sources
    LakeFiles.deleteInside(m.fs, tableDir, orphans)(p =>
      s"$tableDir: expiry could not delete orphan $p")
    expired
  }
}
