package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.MetaAvro
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Read-only Apache Paimon table reader implemented from the PUBLIC
  * Paimon layout (paimon.apache.org/docs — basic concepts + file
  * layouts): a table directory holds
  *  - `snapshot/snapshot-<id>` JSON files (+ a `LATEST` hint naming
  *    the current id),
  *  - `schema/schema-<id>` JSON (fields, partitionKeys, primaryKeys),
  *  - `manifest/` Avro manifest lists and manifests,
  *  - data files under `bucket-<b>/`.
  * A snapshot's live file set is the replay of its BASE manifest list
  * (compacted history) plus its DELTA manifest list (that commit's
  * changes), applying each manifest entry's `_KIND` (0 = ADD,
  * 1 = DELETE) per (bucket, file name).
  *
  * Fourth lakehouse-interop leg next to [[DeltaLogLite]],
  * [[IcebergLite]] and [[HudiCowLite]] (reference surface:
  * thirdparty/auron-paimon — the reference converts Paimon scans into
  * its native engine via the same provider contract as
  * auron-iceberg/.../IcebergConvertProvider.scala). Same Spark-first
  * split: snapshot/manifest replay is bounded plan-time metadata
  * (manifests count in the thousands, never fact-sized) read on the
  * driver by [[MetaAvro]], with no Spark job; data reads are Spark's
  * native vectorized parquet scans, keeping pushdown, pruning and
  * whole-stage codegen at 100 TB.
  *
  * PRIMARY-KEY tables (the LSM side of Paimon) are READ for ALL FOUR
  * published merge engines: PK data files store KeyValue rows —
  * `_KEY_<pk>` columns, `_SEQUENCE_NUMBER` (bigint), `_VALUE_KIND`
  * (RowKind byte: 0 = +I insert, 1 = -U update-before, 2 = +U
  * update-after, 3 = -D delete) and the value columns — and every
  * engine's merge is expressed Spark-first as ONE partial-combining
  * AGGREGATE shuffled once on the primary key (no level-aware driver
  * logic, no window), ordered by the (sequence, kind, file) struct:
  *  - `deduplicate` (default): latest row per key via max_by; a
  *    winning -D drops the key;
  *  - `first-row`: FIRST row per key via min_by (insert-only engine);
  *  - `partial-update`: per COLUMN, the latest NON-NULL value via
  *    max_by over a null-gated ordering — later nulls never erase;
  *  - `aggregation`: per COLUMN, the `fields.<col>.aggregate-function`
  *    option's fold (sum/min/max in scope; unspecified fields default
  *    to last_non_null_value per the docs).
  * Engines other than deduplicate refuse retraction rows (-U/-D)
  * PER ROW, and `fields.<col>.sequence-group` options refuse at plan
  * time — both would silently fold wrong under these aggregates.
  *
  * PARTITIONED tables are READ: each manifest entry's `_PARTITION`
  * BinaryRow (layout: [[BinaryRowCodec]]) decodes to the partition
  * values, which place the file under its `k=v/.../bucket-N/`
  * directory AND attach as typed literal columns per partition group
  * — Paimon data files exclude partition columns, exactly the
  * fileSchema++partitionSchema split Spark's own scans use. Partition
  * key types are bounded to string/integral/boolean (the types whose
  * path spelling is canonical); null values take the table's
  * `partition.default-name`.
  *
  * Lite scope, loud failures (never silent wrong answers):
  *  - primary-key merge engines OUTSIDE the published four, and
  *    aggregation functions outside sum/min/max/last_non_null_value,
  *    are refused;
  *  - partition keys of date/timestamp/float types are refused (path
  *    spelling is writer-configurable); batch, changelog AND
  *    streaming reads all serve partitioned tables (the change
  *    surfaces decode _PARTITION exactly like the batch path);
  *  - parquet and ORC data files (Paimon's default file.format is
  *    orc); any other extension, or a snapshot mixing the two
  *    formats, is refused;
  *  - a PK data file missing the KeyValue system columns is refused;
  *  - non-file:// filesystem schemes, missing snapshots/schemas, and
  *    manifest rows without the expected fields throw with the path
  *    named.
  */
object PaimonLite {

  /** One live data file: its absolute path and the partition values
    * (schema-typed, null allowed) decoded from the manifest entry's
    * `_PARTITION` BinaryRow — empty for unpartitioned tables. */
  final case class DataFile(path: String, partition: Seq[Any] = Nil)

  /** One DELETION VECTOR: the bitmap blob's location inside its index
    * file (`index/<name>`, byte `offset`, inner `length`) plus the
    * data file whose row ordinals it kills. `cardinality` is the
    * manifest-declared bit count (absent in older layouts; verified
    * against the decoded bitmap when present). */
  final case class Dv(indexPath: String, offset: Long, length: Int,
                      cardinality: Option[Long], dataFile: String)

  final case class Snapshot(snapshotId: Long, schema: StructType,
                            files: Seq[DataFile],
                            primaryKeys: Seq[String] = Nil,
                            partitionKeys: Seq[String] = Nil,
                            defaultPartName: String =
                              "__DEFAULT_PARTITION__",
                            mergeEngine: String = "deduplicate",
                            fieldAggregates: Map[String, String] =
                              Map.empty,
                            sequenceGroups: Seq[(String, Seq[String])] =
                              Nil,
                            fieldListaggDelims: Map[String, String] =
                              Map.empty,
                            dvs: Seq[Dv] = Nil,
                            schemaId: Long = 0L,
                            changelogProducer: String = "none")

  /** The published PK merge engines this reader serves. */
  val MergeEngines: Set[String] =
    Set("deduplicate", "partial-update", "aggregation", "first-row")

  /** aggregation-engine per-field functions in scope (each folds into
    * a partial-combining Spark aggregate). */
  /** aggregation-engine per-field functions served (each folds into
    * ONE partial-combining aggregate — see read()). Published
    * functions outside this set (product, nested_update, collect,
    * merge_map, sketches, …) refuse at plan time. */
  val SupportedAggregates: Set[String] =
    Set("sum", "min", "max", "count", "bool_and", "bool_or",
      "last_value", "last_non_null_value", "first_value",
      "first_non_null_value", "listagg")

  private implicit val fmts: Formats = DefaultFormats

  /** Paimon types are SQL-style strings (possibly "... NOT NULL"). */
  private def paimonType(raw: String, where: String): (DataType, Boolean) = {
    val notNull = raw.toUpperCase.endsWith(" NOT NULL")
    val t = (if (notNull) raw.dropRight(" NOT NULL".length) else raw)
      .trim.toUpperCase
    val dt = t match {
      case "BOOLEAN"            => BooleanType
      case "TINYINT"            => ByteType
      case "SMALLINT"           => ShortType
      case "INT" | "INTEGER"    => IntegerType
      case "BIGINT"             => LongType
      case "FLOAT"              => FloatType
      case "DOUBLE"             => DoubleType
      case "DATE"               => DateType
      case "STRING"             => StringType
      case "BYTES"              => BinaryType
      case v if v.startsWith("VARCHAR") || v.startsWith("CHAR") =>
        StringType
      case v if v.startsWith("VARBINARY") || v.startsWith("BINARY") =>
        BinaryType
      case v if v.startsWith("TIMESTAMP") =>
        // TIMESTAMP(p) is local-zone-less in Paimon; WITH LOCAL TIME
        // ZONE maps to Spark's TimestampType
        if (v.contains("LOCAL TIME ZONE")) TimestampType
        else TimestampNTZType
      case v if v.startsWith("DECIMAL(") || v.startsWith("NUMERIC(") =>
        val Array(p, s) = v.dropWhile(_ != '(').stripPrefix("(")
          .stripSuffix(")").split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new IllegalStateException(
        s"$where: unsupported Paimon type '$other' (nested/complex " +
          "types are outside PaimonLite scope)")
    }
    (dt, !notNull)
  }

  /** file:-scheme URIs and absolute paths pass through; relative paths
    * resolve against the table root; other schemes refuse loudly. */
  private def resolve(tableDir: String, p: String): String = {
    val scheme = "^([A-Za-z][A-Za-z0-9+.-]*)://".r.findFirstMatchIn(p)
      .map(_.group(1))
    scheme.filter(_ != "file").foreach { s =>
      throw new IllegalStateException(
        s"PaimonLite: unsupported filesystem scheme '$s://' in '$p' — " +
          "only file:// and table-relative paths are in scope")
    }
    val noScheme = p.stripPrefix("file://").stripPrefix("file:")
    if (noScheme.startsWith("/")) noScheme else s"$tableDir/$noScheme"
  }

  /** The table's filesystem, of the session's Hadoop conf (as
    * [[MetaAvro]] and [[FooterSweep]] use): every snapshot, tag, schema
    * and hint a resolve or a commit reads or publishes goes through it. */
  private def fsOf(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The JSON document at `rel` under the table — a
    * `snapshot/snapshot-<N>` or a `tag/tag-<name>`; None when absent. */
  private def doc(fs: FileSystem, tableDir: String,
                  rel: String): Option[JValue] = {
    val p = new Path(tableDir, rel)
    if (fs.exists(p)) Some(JsonMethods.parse(LakeFiles.readText(fs, p)))
    else None
  }

  /** Snapshot ids present under `snapshot/`, ascending. */
  private def snapshotFiles(fs: FileSystem, tableDir: String): Seq[Long] =
    fs.listStatus(new Path(tableDir, "snapshot")).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("snapshot-\\d+") =>
        n.stripPrefix("snapshot-").toLong }.sorted

  /** The latest snapshot id: the `snapshot/LATEST` hint, else the
    * highest `snapshot-<N>`, then advanced while `snapshot-<N+1>`
    * exists — a writer that crashed between publishing a snapshot and
    * moving the hint leaves the hint one behind, and Paimon's own
    * SnapshotManager probes past it the same way. */
  private def latestId(fs: FileSystem, tableDir: String): Long = {
    val snapDir = new Path(tableDir, "snapshot")
    if (!fs.exists(snapDir))
      throw new IllegalStateException(s"$tableDir has no snapshot directory")
    val hint = new Path(snapDir, "LATEST")
    var id =
      if (fs.exists(hint)) LakeFiles.readText(fs, hint).trim.toLong
      else snapshotFiles(fs, tableDir).lastOption.getOrElse(
        throw new IllegalStateException(
          s"$tableDir: no snapshot-<N> files in snapshot/"))
    while (fs.exists(new Path(snapDir, s"snapshot-${id + 1}"))) id += 1
    id
  }

  /** Publish snapshot `id`: create-new `snapshot/snapshot-<id>` (a taken
    * id means another writer committed first — single-writer scope
    * refuses), then move the `LATEST` hint. The one commit point of the
    * writers and the stream sink. */
  def publish(fs: FileSystem, tableDir: String, id: Long,
              json: String): Unit = {
    try AtomicFiles.write(fs, new Path(tableDir, s"snapshot/snapshot-$id"),
      json, replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"$tableDir: snapshot $id already exists — another writer is " +
            "active (single-writer scope)")
    }
    AtomicFiles.write(fs, new Path(tableDir, "snapshot/LATEST"),
      id.toString, replace = true)
  }

  /** One schema document `schema/schema-<id>`, loaded once: its path
    * (for messages), its JSON, and the parts every reader of it needs.
    * The field list parses on first use, so a reader that only places
    * files of an unpartitioned table never parses it. */
  private final case class SchemaDoc(file: String, json: JValue) {
    def option(k: String): Option[String] =
      (json \ "options" \ k).extractOpt[String]
    def keys(k: String): Seq[String] = (json \ k) match {
      case JArray(ks) => ks.map(_.extract[String])
      case _          => Nil
    }
    def partitionKeys: Seq[String] = keys("partitionKeys")
    def defaultPartName: String =
      option("partition.default-name").getOrElse("__DEFAULT_PARTITION__")
    lazy val struct: StructType = (json \ "fields") match {
      case JArray(fls) => StructType(fls.map { f =>
        val name = (f \ "name").extract[String]
        (f \ "type") match {
          case JString(t) =>
            val (dt, nullable) = paimonType(t, file)
            StructField(name, dt, nullable)
          case _ => throw new IllegalStateException(
            s"$file: field $name has a non-primitive type")
        }
      })
      case _ => throw new IllegalStateException(s"$file: schema has no fields")
    }
    // path formatting and BinaryRow decode both need the bounded
    // primitive set
    lazy val partTypes: Seq[DataType] =
      boundedPartTypes(struct, partitionKeys, file)
  }

  private def loadSchema(fs: FileSystem, tableDir: String,
                         id: Long): SchemaDoc = {
    val f = new Path(tableDir, s"schema/schema-$id")
    if (!fs.exists(f)) throw new IllegalStateException(
      s"$tableDir: schema/schema-$id missing")
    SchemaDoc(f.toString, JsonMethods.parse(LakeFiles.readText(fs, f)))
  }

  private def schemaIdOf(snap: JValue): Long =
    (snap \ "schemaId").extractOpt[Long].getOrElse(0L)

  /** Bare manifest names (the layout's convention) live under
    * manifest/; absolute/URI spellings go through the scheme-checked
    * resolver. */
  private def resolveManifest(tableDir: String, name: String): String =
    if (name.startsWith("/") || name.contains("://") ||
      name.startsWith("file:")) resolve(tableDir, name)
    else s"$tableDir/manifest/$name"

  /** The manifest names a manifest list holds. */
  private def manifestList(spark: SparkSession, tableDir: String,
                           name: String): Seq[String] = {
    val p = resolveManifest(tableDir, name)
    val list = MetaAvro.read(spark, p)
    if (!list.columns.contains("_FILE_NAME"))
      throw new IllegalStateException(s"$p: manifest list lacks _FILE_NAME")
    list.rows.map(_.getAs[String]("_FILE_NAME")).toSeq
  }

  /** The manifest names the list under `key` of snapshot document `snap`
    * holds; an absent key holds none. */
  private def listedIn(spark: SparkSession, tableDir: String, snap: JValue,
                       key: String, where: => String): Seq[String] =
    (snap \ key) match {
      case JString(ml) => manifestList(spark, tableDir, ml)
      case JNull | JNothing => Nil
      case other => throw new IllegalStateException(
        s"$where: $key is not a string: $other")
    }

  /** One manifest entry: its `_KIND` (0 = ADD, 1 = DELETE), the file's
    * name, and the file placed under its partition directory and bucket
    * with the typed partition values its `_PARTITION` BinaryRow
    * decodes to. */
  private final case class Entry(kind: Int, name: String, file: DataFile)

  /** Decode every entry of manifest `name` under `schema`'s partition
    * keys; `what` names the manifest's role in a refusal. */
  private def entries(spark: SparkSession, tableDir: String,
                      schema: SchemaDoc, name: String,
                      what: String): Seq[Entry] = {
    val p = resolveManifest(tableDir, name)
    val m = MetaAvro.read(spark, p)
    for (need <- Seq("_KIND", "_BUCKET", "_FILE"))
      if (!m.columns.contains(need)) throw new IllegalStateException(
        s"$p: manifest lacks $need")
    val partitionKeys = schema.partitionKeys
    if (partitionKeys.nonEmpty && !m.columns.contains("_PARTITION"))
      throw new IllegalStateException(
        s"$p: partitioned table but the $what lacks _PARTITION — " +
          "cannot place its files")
    m.rows.toSeq.map { r =>
      val bucket = r.getAs[Number]("_BUCKET").intValue()
      val file = r.getAs[org.apache.spark.sql.Row]("_FILE")
        .getAs[String]("_FILE_NAME")
      val part: Seq[Any] =
        if (partitionKeys.isEmpty) Nil
        else BinaryRowCodec.decode(r.getAs[Array[Byte]]("_PARTITION"),
          schema.partTypes, s"$p ($file)")
      val partDirs = partitionKeys.zip(part).map { case (k, v) =>
        s"$k=${partPathValue(v, schema.defaultPartName)}/"
      }.mkString
      Entry(r.getAs[Number]("_KIND").intValue(), file,
        DataFile(s"$tableDir/$partDirs" + s"bucket-$bucket/$file", part))
    }
  }

  /** One snapshot, walked once: the filesystem it was read through, its
    * JSON document and schema, the manifest names its base and delta
    * lists hold, and the readable [[Snapshot]]. The document, schema and
    * manifest names stay out of the [[Snapshot]] that query plans
    * capture. */
  private final case class Walk(fs: FileSystem, json: JValue,
                                schema: SchemaDoc, manifests: Seq[String],
                                snap: Snapshot)

  /** Resolve a snapshot: `snapshotId`, else a named `tag` (Paimon's
    * `tag/tag-<name>` files each hold a full copy of the snapshot
    * JSON they pin — readable even after the numbered snapshot
    * expired, which is the point of tags; unknown names refuse
    * listing what exists), else `asOfTimestampMs` (the LATEST
    * snapshot whose `timeMillis` is ≤ the instant — Paimon's own
    * commit stamp), else the latest snapshot ([[latestId]]). */
  def snapshot(spark: SparkSession, tableDir: String,
               snapshotId: Option[Long] = None,
               asOfTimestampMs: Option[Long] = None,
               tag: Option[String] = None): Snapshot =
    walk(spark, tableDir, snapshotId, asOfTimestampMs, tag).snap

  private def walk(spark: SparkSession, tableDir: String,
                   snapshotId: Option[Long] = None,
                   asOfTimestampMs: Option[Long] = None,
                   tag: Option[String] = None): Walk = {
    require(Seq(snapshotId, asOfTimestampMs, tag).count(_.nonEmpty) <= 1,
      "snapshotId, asOfTimestampMs and tag are mutually exclusive")
    val fs = fsOf(spark, tableDir)
    if (!fs.exists(new Path(tableDir, "snapshot")))
      throw new IllegalStateException(s"$tableDir has no snapshot directory")

    // a TAG is its own snapshot document — resolve it first and skip
    // the numbered-snapshot lookup entirely (the number may be expired)
    val tagJson: Option[JValue] = tag.map { name =>
      doc(fs, tableDir, s"tag/tag-$name").getOrElse {
        val tagDir = new Path(tableDir, "tag")
        val have =
          if (!fs.exists(tagDir)) "table has no tag directory"
          else {
            val names = fs.listStatus(tagDir).toSeq.map(_.getPath.getName)
              .collect { case n if n.startsWith("tag-") =>
                n.stripPrefix("tag-") }.sorted
            if (names.isEmpty) "table has no tags"
            else s"have ${names.mkString(", ")}"
          }
        throw new IllegalArgumentException(
          s"$tableDir: no tag named '$name' ($have)")
      }
    }

    val byTimestamp: Option[Long] = asOfTimestampMs.map { ts =>
      val ids = snapshotFiles(fs, tableDir)
      if (ids.isEmpty) throw new IllegalStateException(
        s"$tableDir: no snapshot-<N> files in snapshot/")
      val stamped = ids.map { id =>
        val j = doc(fs, tableDir, s"snapshot/snapshot-$id").get
        id -> (j \ "timeMillis").extractOpt[Long].getOrElse(
          throw new IllegalStateException(
            s"$tableDir: snapshot $id has no timeMillis — timestamp " +
              "travel needs stamped snapshots"))
      }
      val eligible = stamped.filter(_._2 <= ts)
      if (eligible.isEmpty) throw new IllegalArgumentException(
        s"$tableDir: no snapshot at or before timestamp $ts " +
          s"(earliest is ${stamped.map(_._2).min})")
      eligible.maxBy(e => (e._2, e._1))._1
    }

    val (wantedId: Long, snap: JValue) = tagJson match {
      case Some(j) =>
        ((j \ "id").extractOpt[Long].getOrElse(
          throw new IllegalStateException(
            s"$tableDir: tag ${tag.get} holds no snapshot id — " +
              "malformed tag file")), j)
      case None =>
        val id = snapshotId.orElse(byTimestamp)
          .getOrElse(latestId(fs, tableDir))
        (id, doc(fs, tableDir, s"snapshot/snapshot-$id").getOrElse(
          throw new IllegalArgumentException(
            s"$tableDir: snapshot $id not found")))
    }

    val schemaId = schemaIdOf(snap)
    val sd = loadSchema(fs, tableDir, schemaId)
    val schemaJson = sd.json
    val schemaFile = sd.file
    val primaryKeys = sd.keys("primaryKeys")
    // all four published PK merge engines are READ (each folds into a
    // partial-combining aggregate — see read()); anything else refuses
    val mergeEngine = sd.option("merge-engine").getOrElse("deduplicate")
    if (primaryKeys.nonEmpty && !MergeEngines.contains(mergeEngine))
      throw new IllegalStateException(
        s"$schemaFile: merge-engine=$mergeEngine — PaimonLite reads " +
          s"${MergeEngines.mkString("/")} primary-key tables")
    // aggregation engine: per-field functions from
    // `fields.<col>.aggregate-function`
    val fieldAggregates: Map[String, String] = (schemaJson \ "options") match {
      case JObject(opts) =>
        opts.collect {
          case (k, JString(fn)) if k.startsWith("fields.") &&
            k.endsWith(".aggregate-function") =>
            val c = k.stripPrefix("fields.")
              .stripSuffix(".aggregate-function")
            if (!SupportedAggregates.contains(fn))
              throw new IllegalStateException(
                s"$schemaFile: aggregate-function=$fn for field $c — " +
                  s"PaimonLite reads ${SupportedAggregates.mkString("/")}")
            c -> fn
        }.toMap
      case _ => Map.empty
    }
    val fieldListaggDelims: Map[String, String] =
      (schemaJson \ "options") match {
        case JObject(opts) => opts.collect {
          case (k, JString(d)) if k.startsWith("fields.") &&
            k.endsWith(".list-agg-delimiter") =>
            k.stripPrefix("fields.")
              .stripSuffix(".list-agg-delimiter") -> d
        }.toMap
        case _ => Map.empty
      }
    val partitionKeys = sd.partitionKeys
    val defaultPartName = sd.defaultPartName
    val schema = sd.struct

    // declared aggregate functions must name schema columns whose
    // type can carry the fold — a mismatch would cast-coerce silently
    for ((c, fn) <- fieldAggregates) {
      if (!schema.fieldNames.contains(c)) throw new IllegalStateException(
        s"$schemaFile: fields.$c.aggregate-function names unknown " +
          "column")
      val dt = schema(c).dataType
      val ok = fn match {
        case "sum" | "count"        => dt.isInstanceOf[NumericType]
        case "bool_and" | "bool_or" => dt == BooleanType
        case "listagg"              => dt == StringType
        case _                      => true
      }
      if (!ok) throw new IllegalStateException(
        s"$schemaFile: aggregate-function=$fn over $c's " +
          s"${dt.simpleString} — the fold's result cannot live in " +
          "that column type")
    }

    // partial-update SEQUENCE GROUPS (`fields.<seq-col>.sequence-group
    // = c1,c2` — the published multi-stream-update surface): each
    // group's member columns update only when ITS sequence column
    // advances, nulls included (a "true partial-update"). Parsed and
    // validated here; the fold lives in read(). Malformed specs —
    // unknown columns, a key/partition column in a group, a column in
    // two groups, or a group on an engine other than partial-update —
    // refuse at plan time.
    val sequenceGroups: Seq[(String, Seq[String])] =
      (schemaJson \ "options") match {
        case JObject(opts) =>
          val groups = opts.collect {
            case (k, JString(v)) if k.startsWith("fields.") &&
              k.endsWith(".sequence-group") =>
              k.stripPrefix("fields.").stripSuffix(".sequence-group") ->
                v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          }.sortBy(_._1)
          if (groups.nonEmpty) {
            if (mergeEngine != "partial-update")
              throw new IllegalStateException(
                s"$schemaFile: sequence groups under " +
                  s"merge-engine=$mergeEngine — PaimonLite serves them " +
                  "for partial-update only")
            val names = schema.fieldNames.toSet
            val reserved = (primaryKeys ++ partitionKeys).toSet
            val seen = scala.collection.mutable.Set.empty[String]
            for ((s, ms) <- groups) {
              if (ms.isEmpty) throw new IllegalStateException(
                s"$schemaFile: fields.$s.sequence-group names no columns")
              for (c <- s +: ms) {
                if (!names.contains(c)) throw new IllegalStateException(
                  s"$schemaFile: sequence group of $s names unknown " +
                    s"column $c")
                if (reserved.contains(c)) throw new IllegalStateException(
                  s"$schemaFile: sequence group of $s involves " +
                    s"key/partition column $c")
                if (!seen.add(c)) throw new IllegalStateException(
                  s"$schemaFile: column $c appears in two sequence " +
                    "groups (or as both a sequence column and a member)")
              }
            }
          }
          groups
        case _ => Nil
      }

    // base (compacted history) + delta (this commit) manifest lists
    def manifestsOf(key: String): Seq[String] = listedIn(spark, tableDir,
      snap, key, s"$tableDir snapshot $wantedId")
    val manifests =
      manifestsOf("baseManifestList") ++ manifestsOf("deltaManifestList")
    val partTypes = sd.partTypes

    // replay ADD/DELETE per (partition, bucket, file name); later
    // entries win. Partition values ride each entry's _PARTITION
    // BinaryRow (decoded with the schema's partition types).
    val live = scala.collection.mutable.LinkedHashSet.empty[DataFile]
    for (mf <- manifests; e <- entries(spark, tableDir, sd, mf, "manifest"))
      e.kind match {
        case 0 => live += e.file
        case 1 => live -= e.file
        case k => throw new IllegalStateException(
          s"${resolveManifest(tableDir, mf)}: unknown manifest entry kind " +
            s"$k for ${e.name}")
      }
    val files = live.toSeq
    for (f <- files; name = f.path.split('/').last)
      if (!name.endsWith(".parquet") && !name.endsWith(".orc"))
        throw new IllegalStateException(
          s"$tableDir: data file $name is neither parquet nor orc — " +
            "outside PaimonLite scope (set file.format=parquet|orc)")

    // DELETION VECTORS mark rows dead OUTSIDE the KeyValue stream —
    // a reader that ignored them would silently RESURRECT deleted
    // rows. The snapshot's index manifest locates, per data file, the
    // bitmap blob inside an index file under index/: each live entry
    // of _INDEX_TYPE=DELETION_VECTORS carries _DELETIONS_VECTORS_RANGES
    // = [(data file name, blob offset, inner length[, cardinality])].
    // HASH entries (the dynamic-bucket writer index) are writer-side
    // only and ignorable; unknown index kinds refuse — ignoring an
    // index this reader cannot classify could return wrong rows.
    val dvs: Seq[Dv] = (snap \ "indexManifest") match {
      case JString(im) if im.nonEmpty =>
        val p = new Path(tableDir, s"manifest/$im")
        if (!fs.exists(p)) throw new IllegalStateException(
          s"$tableDir: snapshot $wantedId declares indexManifest $im " +
            "but the file is missing — its deletion vectors (if any) " +
            "cannot be applied")
        val idx = MetaAvro.read(spark, p.toString)
        val nested = idx.columns.contains("_INDEX_FILE")
        if (!nested && !idx.columns.contains("_INDEX_TYPE"))
          throw new IllegalStateException(
            s"$p: index manifest without an _INDEX_TYPE column — " +
              "cannot classify its index entries")
        // replay ADD/DELETE per (partition, bucket, index file name)
        type Key = (Seq[Any], Int, String)
        val liveIdx = scala.collection.mutable.LinkedHashMap
          .empty[Key, (String, org.apache.spark.sql.Row)]
        idx.rows.foreach { r =>
          val kind =
            if (idx.columns.contains("_KIND"))
              r.getAs[Number]("_KIND").intValue()
            else 0
          val bucket =
            if (idx.columns.contains("_BUCKET"))
              r.getAs[Number]("_BUCKET").intValue()
            else 0
          val part: Seq[Any] =
            if (partitionKeys.isEmpty) Nil
            else if (!idx.columns.contains("_PARTITION"))
              throw new IllegalStateException(
                s"$p: partitioned table but the index manifest lacks " +
                  "_PARTITION — cannot place its deletion vectors")
            else BinaryRowCodec.decode(r.getAs[Array[Byte]]("_PARTITION"),
              partTypes, s"$p (index entry)")
          val meta =
            if (nested) r.getAs[org.apache.spark.sql.Row]("_INDEX_FILE")
            else r
          val itype = meta.getAs[String]("_INDEX_TYPE")
          val fname = meta.getAs[String]("_FILE_NAME")
          kind match {
            case 0 => liveIdx((part, bucket, fname)) = (itype, meta)
            case 1 => liveIdx.remove((part, bucket, fname)): Unit
            case k => throw new IllegalStateException(
              s"$p: unknown index manifest entry kind $k for $fname")
          }
        }
        liveIdx.toSeq.flatMap { case ((part, bucket, fname), (itype, meta)) =>
          itype match {
            case "HASH" => Nil
            case "DELETION_VECTORS" =>
              val rangesField = "_DELETIONS_VECTORS_RANGES"
              if (!meta.schema.fieldNames.contains(rangesField) ||
                meta.getAs[Any](rangesField) == null)
                throw new IllegalStateException(
                  s"$p: DELETION_VECTORS entry $fname without " +
                    s"$rangesField — cannot locate its bitmaps")
              val partDirs = partitionKeys.zip(part).map { case (k, v) =>
                s"$k=${partPathValue(v, defaultPartName)}/"
              }.mkString
              meta.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
                rangesField).map { rng =>
                def need[T](n: String)(get: => T): T =
                  if (rng.schema.fieldNames.contains(n) &&
                    rng.getAs[Any](n) != null) get
                  else throw new IllegalStateException(
                    s"$p: deletion-vector range in $fname without $n")
                val dataName = need("_FILE_NAME")(
                  rng.getAs[String]("_FILE_NAME"))
                val card =
                  if (rng.schema.fieldNames.contains("_CARDINALITY") &&
                    rng.getAs[Any]("_CARDINALITY") != null)
                    Some(rng.getAs[Number]("_CARDINALITY").longValue())
                  else None
                Dv(s"$tableDir/index/$fname",
                  need("_OFFSET")(
                    rng.getAs[Number]("_OFFSET").longValue()),
                  need("_LENGTH")(
                    rng.getAs[Number]("_LENGTH").intValue()),
                  card,
                  s"$tableDir/$partDirs" + s"bucket-$bucket/$dataName")
              }.toSeq
            case other => throw new IllegalStateException(
              s"$tableDir: snapshot $wantedId carries an index entry " +
                s"of type $other — only HASH (ignorable) and " +
                "DELETION_VECTORS are inside PaimonLite scope; " +
                "ignoring an unknown index could return wrong rows")
          }
        }
      case _ => Nil
    }
    if (dvs.nonEmpty) {
      // one DV per data file, like Iceberg's v3 rule — duplicates
      // would mean this reader missed a supersession rule
      dvs.groupBy(_.dataFile).foreach { case (f, ds) =>
        if (ds.size > 1) throw new IllegalStateException(
          s"$tableDir: ${ds.size} deletion vectors reference $f — " +
            "cannot know which supersedes")
      }
      if (primaryKeys.isEmpty) throw new IllegalStateException(
        s"$tableDir: deletion vectors on an append-only table — " +
          "PaimonLite serves DV tables with a primary key only")
      if (files.exists(_.path.endsWith(".orc")))
        throw new IllegalStateException(
          s"$tableDir: deletion vectors over ORC data files — " +
            "row-ordinal addressing is parquet-only in lite scope")
    }
    Walk(fs, snap, sd, manifests,
      Snapshot(wantedId, schema, files, primaryKeys, partitionKeys,
        defaultPartName, mergeEngine, fieldAggregates, sequenceGroups,
        fieldListaggDelims, dvs, schemaId,
        sd.option("changelog-producer").getOrElse("none")))
  }

  /** The bounded partition-key types PaimonLite serves (path spelling
    * and BinaryRow decode both need the primitive set); anything else
    * refuses with the schema file named. */
  private def boundedPartTypes(schema: StructType,
                               partitionKeys: Seq[String],
                               where: String): Seq[DataType] =
    partitionKeys.map { k =>
      val f = schema.find(_.name == k).getOrElse(
        throw new IllegalStateException(
          s"$where: partition key $k is not a schema field"))
      f.dataType match {
        case t @ (BooleanType | ByteType | ShortType | IntegerType |
                  LongType | StringType) => t
        case other => throw new IllegalStateException(
          s"$where: partition key $k has type ${other.simpleString}" +
            " — PaimonLite reads string/integral/boolean partition keys " +
            "only (date/timestamp partition paths are outside lite scope)")
      }
    }

  /** Scan APPEND-ONLY value files with their partition values
    * attached as typed literal columns — one native columnar scan per
    * PARTITION TUPLE (Paimon data files exclude partition columns;
    * values come from the manifests' BinaryRows). Shared by the batch
    * read, the changelog read and the streaming source. */
  def scanAppendFiles(spark: SparkSession,
                                     tableDir: String, schema: StructType,
                                     partitionKeys: Seq[String],
                                     defaultPartName: String,
                                     files: Seq[DataFile]): DataFrame = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val valueSchema = StructType(
      schema.filterNot(f => partitionKeys.contains(f.name)))
    files.groupBy(_.partition).toSeq
      .sortBy(_._1.map(v => partPathValue(v, defaultPartName))
        .mkString("/"))
      .map { case (part, fl) =>
        partitionKeys.zip(part).foldLeft(
          ColumnarScan(spark, tableDir, Some(valueSchema),
            fl.map(_.path))) { case (d, (k, v)) =>
          d.withColumn(k, lit(v).cast(schema(k).dataType))
        }.select(schema.fieldNames.map(col).toSeq: _*)
      }.reduce(_ unionAll _)
  }

  /** Decode one DELETION-VECTOR bitmap from its index file into dead
    * row ordinals (executor-side). The v1 index-file layout (Paimon's
    * DeletionVectorsIndexFile): [1-byte version 1] then per bitmap
    * [4-byte BE inner length][4-byte BE magic 1581511376 +
    * 32-bit RoaringBitmap, portable format][4-byte BE CRC-32 of the
    * inner bytes]. The manifest's offset points at the length prefix;
    * its length is the inner byte count. Version, length, magic, CRC
    * and cardinality mismatches all refuse loudly — a 64-bit bitmap
    * table (deletion-vectors.bitmap64) lands on the magic check. */
  private[graft] def decodeDvBlob(path: String, offset: Long,
                                  length: Int,
                                  cardinality: Option[Long])
  : Iterator[Long] = {
    val in = DeltaLogLite.openBlobStream(path)
    try {
      in.seek(0)
      val version = in.readByte()
      if (version != 1) throw new IllegalStateException(
        s"$path: deletion-vector index file version $version " +
          "(expected 1) — unknown layout; refusing rather than " +
          "mis-reading")
      in.seek(offset)
      val storedLen = in.readInt() // big-endian
      if (storedLen != length) throw new IllegalStateException(
        s"$path: deletion-vector blob at offset $offset stores inner " +
          s"length $storedLen but the index manifest says $length")
      if (storedLen < 4) throw new IllegalStateException(
        s"$path: deletion-vector blob at offset $offset claims inner " +
          s"length $storedLen — too short for the magic")
      val data = new Array[Byte](storedLen)
      in.readFully(data)
      val storedCrc = in.readInt()
      val crc = new java.util.zip.CRC32
      crc.update(data)
      if (storedCrc != crc.getValue.toInt) throw new IllegalStateException(
        s"$path: deletion-vector checksum mismatch at offset $offset")
      val dis = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(data))
      val magic = dis.readInt()
      if (magic != 1581511376) throw new IllegalStateException(
        s"$path: deletion-vector magic $magic (expected 1581511376, " +
          "the 32-bit bitmap serialization) — unknown serialization; " +
          "refusing rather than mis-reading")
      val bmp = new org.roaringbitmap.RoaringBitmap()
      bmp.deserialize(dis)
      for (card <- cardinality)
        if (bmp.getLongCardinality != card) throw new IllegalStateException(
          s"$path: deletion vector at offset $offset decodes " +
            s"${bmp.getLongCardinality} ordinals but the index " +
            s"manifest declares $card")
      val it = bmp.getIntIterator
      new Iterator[Long] {
        def hasNext: Boolean = it.hasNext
        def next(): Long = java.lang.Integer.toUnsignedLong(it.next())
      }
    } finally in.close()
  }

  /** Hive-style escape set Paimon's partition paths use (published in
    * PartitionPathUtils, itself Hive's FileUtils.makePartName). */
  private val pathEscapeChars = ("\"#%'*/:=?\\{[]^" + "\u007f").toSet

  /** One partition VALUE's spelling in the directory layout: null →
    * the table's default partition name; strings %-escape the Hive
    * special set; integrals/booleans print canonically. A wrong
    * spelling can only fail LOUDLY downstream (the file path simply
    * would not exist), never produce a silent wrong answer. */
  private def partPathValue(v: Any, defaultName: String): String = v match {
    case null      => defaultName
    case s: String => s.flatMap { c =>
      if (c < ' ' || pathEscapeChars(c)) f"%%${c.toInt}%02X"
      else c.toString
    }
    case other     => other.toString
  }



  /** CHANGELOG read of one snapshot — Paimon's change-data surface
    * (the Delta-CDF analog of this leg). A primary-key table with
    * `changelog-producer=input` materializes each commit's raw input
    * rows as changelog files named by the snapshot's
    * `changelogManifestList`; this returns those rows as value
    * columns + `_row_kind` ('+I' / '-U' / '+U' / '-D') — each file one
    * native vectorized scan, O(changed rows) total.
    *
    * `changelog-producer=full-compaction` keeps no per-commit input
    * files — its published semantics are the DIFF between consecutive
    * compacted states. The lite rendering: the MERGE DIFF between
    * this snapshot's read and the previous snapshot's, as one
    * null-safe full-outer join on the primary key — new keys +I,
    * vanished keys -D (the old row), changed keys -U (old) and +U
    * (new), unchanged keys silent. Append-only full-compaction
    * tables refuse (no key to diff on).
    *
    * `changelog-producer=lookup` (the recommended low-latency
    * producer) materializes NORMALIZED changelog files — old values
    * looked up at compaction time — under the same per-snapshot
    * `changelogManifestList`, usually on the COMPACT snapshot that
    * ran the lookup. The replay is therefore the same file scan as
    * `input`; a lookup snapshot WITHOUT changelog files (the append
    * commit whose changes are still deferred to the next lookup
    * compaction) is an EMPTY changelog, not a refusal — its rows
    * surface on the compaction snapshot.
    *
    * A snapshot without a changelog under any other producer refuses
    * loudly: synthesizing changes from LSM diffs would need the full
    * merge of both snapshots — exactly what the full-compaction
    * branch does explicitly. */
  def readChangelog(spark: SparkSession, tableDir: String,
                    snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    // value schema + KeyValue check ride the snapshot resolver;
    // PARTITIONED tables decode each entry's _PARTITION BinaryRow and
    // attach typed partition columns exactly like the batch path
    val w = walk(spark, tableDir, Some(snapshotId))
    val snap = w.snap
    val producer = snap.changelogProducer
    if (producer == "full-compaction")
      return mergeDiffChangelog(spark, tableDir, w)
    val manifests = (w.json \ "changelogManifestList") match {
      case JString(ml) => manifestList(spark, tableDir, ml)
      case _
        if (w.json \ "commitKind").extractOpt[String]
          .contains("COMPACT") =>
        // a compaction rearranges files without changing data — its
        // changelog is EMPTY, and consumers skip it (the format's own
        // stream semantics); refusing here would wedge every range
        // crossing a compaction
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(snap.schema.fields :+
            StructField("_row_kind", StringType, nullable = true)))
      case _ if producer == "lookup" =>
        // lookup DEFERS a commit's changelog to the next lookup
        // compaction: an append snapshot without changelog files is
        // an empty changelog, never missing data — its rows surface
        // on the COMPACT snapshot's changelogManifestList above
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(snap.schema.fields :+
            StructField("_row_kind", StringType, nullable = true)))
      case _ => throw new IllegalStateException(
        s"$tableDir: snapshot $snapshotId has no changelogManifestList — " +
          "changelog reads need changelog-producer=input, lookup, or " +
          "full-compaction (a materializing producer)")
    }
    val files: Seq[DataFile] = manifests.flatMap { mf =>
      entries(spark, tableDir, w.schema, mf, "changelog manifest").map { e =>
        if (e.kind != 0) throw new IllegalStateException(
          s"${resolveManifest(tableDir, mf)}: DELETE entry in a changelog " +
            "manifest — malformed")
        e.file
      }
    }
    val outSchema = StructType(snap.schema.fields :+
      StructField("_row_kind", StringType, nullable = true))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val valueNames =
      snap.schema.fieldNames.filterNot(snap.partitionKeys.contains)
    files.groupBy(_.partition).toSeq
      .sortBy(_._1.map(v => partPathValue(v, snap.defaultPartName))
        .mkString("/"))
      .map { case (part, fl) =>
        val raw = ColumnarScan(spark, tableDir, None, fl.map(_.path))
        val needed = Seq("_VALUE_KIND") ++ valueNames
        val missing = needed.filterNot(raw.columns.contains)
        if (missing.nonEmpty) throw new IllegalStateException(
          s"$tableDir: changelog files lack KeyValue columns " +
            s"${missing.mkString(", ")}")
        snap.partitionKeys.zip(part).foldLeft(raw) { case (d, (k, v)) =>
          d.withColumn(k, lit(v).cast(snap.schema(k).dataType))
        }.select(snap.schema.fieldNames.map(col).toSeq :+
          when(col("_VALUE_KIND").cast("int") === 0, "+I")
            .when(col("_VALUE_KIND").cast("int") === 1, "-U")
            .when(col("_VALUE_KIND").cast("int") === 2, "+U")
            .when(col("_VALUE_KIND").cast("int") === 3, "-D")
            .otherwise(null).as("_row_kind"): _*)
      }.reduce(_ unionAll _)
  }

  /** The full-compaction changelog: the MERGE DIFF between snapshot
    * `snapshotId`'s read and snapshot `snapshotId - 1`'s (an absent
    * previous snapshot diffs against empty — everything +I). One
    * null-safe full-outer join on the primary key; each side is the
    * engine's own merged read, so every merge engine's semantics
    * carry over for free. Scale shape: both sides arrive already
    * aggregated on the key, the join is the only extra exchange. */
  private def mergeDiffChangelog(spark: SparkSession, tableDir: String,
                                 w: Walk): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = w.snap
    val snapshotId = snap.snapshotId
    if (snap.primaryKeys.isEmpty) throw new IllegalStateException(
      s"$tableDir: changelog-producer=full-compaction on an " +
        "append-only table — no primary key to diff on")
    val keys = (snap.primaryKeys ++ snap.partitionKeys).distinct
    val vals = snap.schema.fieldNames.toSeq.filterNot(keys.contains)
    val names = snap.schema.fieldNames.toSeq
    val cur = readSnapshot(spark, tableDir, snap)
    val prev =
      if (w.fs.exists(
        new Path(tableDir, s"snapshot/snapshot-${snapshotId - 1}")))
        read(spark, tableDir, Some(snapshotId - 1))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        snap.schema)
    val c = cur.select(names.map(n => col(n).as(s"_c_$n")): _*)
    val p = prev.select(names.map(n => col(n).as(s"_p_$n")): _*)
    val joined = c.join(p,
      keys.map(k => col(s"_c_$k") <=> col(s"_p_$k")).reduce(_ && _),
      "full_outer")
    // primary-key columns are non-null in Paimon, so a null key marks
    // the side as absent in the outer join
    val hasC = col(s"_c_${keys.head}").isNotNull
    val hasP = col(s"_p_${keys.head}").isNotNull
    val changed =
      if (vals.isEmpty) lit(false)
      else !(struct(vals.map(n => col(s"_c_$n")): _*) <=>
        struct(vals.map(n => col(s"_p_$n")): _*))
    def side(prefix: String, kind: Column, keep: Column): DataFrame =
      joined.filter(keep).select(
        names.map(n => col(s"${prefix}_$n").as(n)) :+
          kind.as("_row_kind"): _*)
    side("_p", when(hasC, "-U").otherwise("-D"),
      hasP && (!hasC || changed))
      .unionByName(side("_c", when(hasP, "+U").otherwise("+I"),
        hasC && (!hasP || changed)))
  }

  /** Latest snapshot id ([[latestId]]). Paimon snapshot ids are
    * CONTIGUOUS longs — the natural streaming offset surface. */
  def latestSnapshotId(spark: SparkSession, tableDir: String): Long =
    latestId(fsOf(spark, tableDir), tableDir)

  /** Snapshot `id`'s (commitUser, commitIdentifier) — Paimon's OWN
    * exactly-once surface: a committer dedups re-delivered work by
    * checking the identifiers it already committed under its user. */
  def commitInfo(spark: SparkSession, tableDir: String,
                 id: Long): (String, Long) = {
    val snap = doc(fsOf(spark, tableDir), tableDir,
      s"snapshot/snapshot-$id").getOrElse(throw new IllegalStateException(
        s"$tableDir: snapshot $id not found"))
    ((snap \ "commitUser").extractOpt[String].getOrElse(""),
      (snap \ "commitIdentifier").extractOpt[Long].getOrElse(-1L))
  }

  /** The manifest FILE NAMES snapshot `id` covers (base ++ delta) —
    * what the next snapshot's base manifest list must re-list for an
    * append-only commit. Bounded metadata reads. */
  def manifestNames(spark: SparkSession, tableDir: String,
                    id: Long): Seq[String] = {
    val snap = doc(fsOf(spark, tableDir), tableDir,
      s"snapshot/snapshot-$id").getOrElse(throw new IllegalStateException(
        s"$tableDir: snapshot $id not found"))
    Seq("baseManifestList", "deltaManifestList").flatMap(
      listedIn(spark, tableDir, snap, _, s"$tableDir snapshot $id"))
  }

  /** The data files ADDED by snapshot `id`'s DELTA manifest list — the
    * per-commit change surface for streaming reads, PARTITION-AWARE
    * (each entry's _PARTITION BinaryRow decodes through the snapshot's
    * own schema, placing the file under its partition directory and
    * carrying the typed values for column attachment). APPEND-ONLY
    * scope: a DELETE entry in the delta (compaction/overwrite) throws
    * loudly, as does a snapshot whose JSON is gone (expired
    * history). */
  def deltaAdds(spark: SparkSession, tableDir: String,
                id: Long): Seq[DataFile] = {
    val fs = fsOf(spark, tableDir)
    val snap = doc(fs, tableDir, s"snapshot/snapshot-$id").getOrElse(
      throw new IllegalStateException(
        s"$tableDir: streaming range needs snapshot $id but its JSON is " +
          "gone (snapshot expiry passed the stream's offset)"))
    // the commit's own schema document supplies partition keys/types
    val schema = loadSchema(fs, tableDir, schemaIdOf(snap))
    // a DV-enabled table's commits can kill rows via index files the
    // delta manifest never mentions — streaming its ADDs would
    // silently keep dead rows in the stream
    if (schema.option("deletion-vectors.enabled")
        .exists(_.equalsIgnoreCase("true")))
      throw new IllegalStateException(
        s"$tableDir: deletion-vectors.enabled=true — the per-commit " +
          "ADD surface cannot see DV kills; streaming DV tables is " +
          "outside PaimonLite scope")
    listedIn(spark, tableDir, snap, "deltaManifestList",
      s"$tableDir snapshot $id").flatMap { mf =>
      entries(spark, tableDir, schema, mf, "delta manifest").map { e =>
        if (e.kind != 0) throw new IllegalStateException(
          s"$tableDir snapshot $id: DELETE entry for ${e.name} in the " +
            "delta manifest — streaming reads are append-only scope " +
            "(compaction/overwrite mid-stream would drop streamed rows)")
        if (!e.name.endsWith(".parquet") && !e.name.endsWith(".orc"))
          throw new IllegalStateException(
            s"$tableDir: data file ${e.name} is neither parquet nor orc")
        e.file
      }
    }
  }

  /** Paimon SYSTEM TABLES — the library's `table$snapshots` /
    * `table$tags` query surface, served from the snapshot/tag JSON
    * files (bounded plan-time listing, one small local relation):
    *  - "snapshots": (snapshot_id, schema_id, commit_kind,
    *    commit_identifier, time_millis)
    *  - "tags": (tag_name, snapshot_id) — each tag file pins a full
    *    snapshot copy; the id is read from it
    * Other names refuse listing what exists. */
  def metadataTable(spark: SparkSession, tableDir: String,
                    table: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, tableDir)
    table match {
      case "snapshots" =>
        if (!fs.exists(new Path(tableDir, "snapshot")))
          throw new IllegalStateException(
            s"$tableDir: no snapshot/ directory")
        val rows: Seq[(Long, Long, String, Long, Option[Long])] =
          snapshotFiles(fs, tableDir).map { id =>
            val j = doc(fs, tableDir, s"snapshot/snapshot-$id").get
            (id, schemaIdOf(j),
              (j \ "commitKind").extractOpt[String].getOrElse(""),
              (j \ "commitIdentifier").extractOpt[Long].getOrElse(0L),
              (j \ "timeMillis").extractOpt[Long])
          }
        rows.toDF("snapshot_id", "schema_id", "commit_kind",
          "commit_identifier", "time_millis")
      case "tags" =>
        val tagDir = new Path(tableDir, "tag")
        val rows: Seq[(String, Long)] =
          if (!fs.exists(tagDir)) Nil
          else fs.listStatus(tagDir).toSeq.map(_.getPath.getName)
            .collect { case n if n.startsWith("tag-") => n }
            .sorted.map { n =>
              val j = doc(fs, tableDir, s"tag/$n").get
              (n.stripPrefix("tag-"),
                (j \ "id").extractOpt[Long].getOrElse(
                  throw new IllegalStateException(
                    s"$tableDir: tag file $n holds no snapshot id")))
            }
        rows.toDF("tag_name", "snapshot_id")
      case other => throw new IllegalArgumentException(
        s"$tableDir: system table '$other' — PaimonLite serves " +
          "snapshots and tags")
    }
  }

  /** DataFrame over the snapshot's live files. One native columnar
    * scan per PARTITION TUPLE (Paimon data files exclude partition
    * columns — values come from the manifests' BinaryRows, attached
    * as typed literal columns exactly like [[DeltaLogLite.readFiles]];
    * unpartitioned tables are a single scan). Primary-key tables
    * additionally run the deduplicate merge (latest
    * `_SEQUENCE_NUMBER` per key wins, a winning DELETE drops the key)
    * as ONE partial-combining aggregate shuffled on the key. An empty
    * snapshot returns a typed empty frame (the schema store makes
    * that possible here, unlike Hudi COW). */
  def read(spark: SparkSession, tableDir: String,
           snapshotId: Option[Long] = None,
           asOfTimestampMs: Option[Long] = None,
           tag: Option[String] = None): DataFrame =
    readSnapshot(spark, tableDir,
      snapshot(spark, tableDir, snapshotId, asOfTimestampMs, tag))

  private def readSnapshot(spark: SparkSession, tableDir: String,
                           snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    val partCols = snap.partitionKeys
    def withPartitionCols(df: DataFrame, part: Seq[Any]): DataFrame =
      partCols.zip(part).foldLeft(df) { case (d, (k, v)) =>
        d.withColumn(k, lit(v).cast(snap.schema(k).dataType))
      }
    val groups = snap.files.groupBy(_.partition).toSeq
      .sortBy(_._1.map(v => partPathValue(v, snap.defaultPartName))
        .mkString("/"))
    if (snap.primaryKeys.isEmpty) {
      scanAppendFiles(spark, tableDir, snap.schema, partCols,
        snap.defaultPartName, snap.files)
    } else {
      // stored keys are the TRIMMED primary key (pk minus partition
      // keys — Paimon strips partition columns from the KeyValue key);
      // the merge groups on trimmed keys + the attached partition
      // columns, so each partition merges independently
      val trimmedKeys = snap.primaryKeys.filterNot(partCols.contains)
      if (trimmedKeys.isEmpty) throw new IllegalStateException(
        s"$tableDir: primary key (${snap.primaryKeys.mkString(", ")}) " +
          "has no column outside the partition key — not a mergeable " +
          "KeyValue layout")
      val keyCols = trimmedKeys.map(k => s"_KEY_$k")
      val valueNames = snap.schema.fieldNames.filterNot(partCols.contains)
      val needed = keyCols ++ Seq("_SEQUENCE_NUMBER", "_VALUE_KIND") ++
        valueNames
      val metaCols = if (snap.dvs.isEmpty) Nil else Seq("_pm_path", "_pm_pos")
      val withDvs = groups.map { case (part, fl) =>
        val scan = ColumnarScan(spark, tableDir, None, fl.map(_.path))
        val missing = needed.filterNot(scan.columns.contains)
        if (missing.nonEmpty) throw new IllegalStateException(
          s"$tableDir: primary-key data files lack KeyValue columns " +
            s"${missing.mkString(", ")} — not a deduplicate-engine " +
            "parquet layout PaimonLite can merge")
        val metaed = scan.withColumn("_pm_file", col("_metadata.file_path"))
        val dved =
          if (snap.dvs.isEmpty) metaed
          // the DV join keys on the DECODED path (Spark's
          // _metadata.file_path is percent-encoded) and the row
          // ordinal, materialized per leg before the union
          else metaed
            .withColumn("_pm_path",
              MetaPaths.decoded(col("_metadata.file_path")))
            .withColumn("_pm_pos", col("_metadata.row_index"))
        withPartitionCols(
          dved.select((needed ++ Seq("_pm_file") ++ metaCols)
            .map(col).toSeq: _*), part)
      }.reduce(_ unionAll _)
      // DELETION VECTORS: decode bitmaps executor-side over the
      // bounded descriptor list (dead-row volume never lands on the
      // driver), anti-join on (data file, ordinal) BEFORE the merge —
      // the same shape as IcebergLite's Puffin path
      val raw =
        if (snap.dvs.isEmpty) withDvs
        else {
          import spark.implicits._
          val descriptors = snap.dvs.map(d =>
            (d.indexPath, d.offset, d.length, d.cardinality, d.dataFile))
          val dead = descriptors.toDS()
            .repartition(math.min(descriptors.size,
              spark.sparkContext.defaultParallelism).max(1))
            .flatMap { case (p, off, len, card, dataFile) =>
              decodeDvBlob(p, off, len, card).map(pos => (dataFile, pos))
            }.toDF("_dvp_path", "_dvp_pos")
          withDvs.join(dead, col("_pm_path") === col("_dvp_path") &&
            col("_pm_pos") === col("_dvp_pos"), "left_anti")
            .drop("_pm_path", "_pm_pos")
        }
      // every engine folds into ONE partial-combining AGGREGATE on
      // the key (map-side combine keeps one candidate/accumulator per
      // key per input partition before the single shuffle — a window
      // formulation would ship every version and sort whole
      // partitions). Ordering = (sequence, kind, file), all three
      // deterministic.
      val ord = struct(col("_SEQUENCE_NUMBER"), col("_VALUE_KIND"),
        col("_pm_file"))
      val grouped = raw.groupBy((keyCols ++ partCols).map(col): _*)
      /** Engines other than deduplicate cannot express retractions
        * with these aggregates — a -U/-D row under them refuses
        * PER ROW (assert_true in a kept filter) instead of silently
        * folding wrong; this matches Paimon's own contract (e.g.
        * partial-update "can not accept delete records"). */
      def insertOnly(df: DataFrame, engine: String,
                     allowed: Seq[Int]): DataFrame =
        df.filter(assert_true(
          col("_VALUE_KIND").cast("int")
            .isin(allowed.map(Int.box): _*),
          concat(lit(s"PaimonLite: $engine merge-engine met a row " +
            "kind "), col("_VALUE_KIND").cast("int"),
            lit(s" — only kinds ${allowed.mkString("/")} are inside " +
              s"$engine scope (retractions cannot fold under these " +
              "aggregates)"))).isNull)
      /** last non-null value per column by the total order — null
        * inputs never overwrite (max_by skips rows whose ordering
        * expression is null, so nulls simply don't compete). */
      def lastNonNull(c: String) =
        max_by(col(c), when(col(c).isNotNull, ord)).as(c)
      def out(df: DataFrame, colFor: String => Column): DataFrame =
        df.select(snap.schema.fields.toSeq.map(f =>
          colFor(f.name).cast(f.dataType).as(f.name)): _*)
      snap.mergeEngine match {
        case "deduplicate" =>
          // latest sequence per key wins; a winning -D (3) deletes
          // the key; a winning -U (1) cannot occur in stored
          // KeyValues (retractions always precede their +U), so
          // filtering to +I/+U is exact
          val payload = struct(
            (col("_VALUE_KIND") +:
              snap.schema.fieldNames.toSeq.map(col)): _*)
          out(grouped.agg(max_by(payload, ord).as("_pm_top"))
            .filter(col("_pm_top._VALUE_KIND").cast("int").isin(0, 2)),
            n => col(s"_pm_top.$n"))
        case "first-row" =>
          // FIRST row per key wins (insert-only engine): min_by over
          // the same total order
          val payload = struct(snap.schema.fieldNames.toSeq.map(col): _*)
          out(insertOnly(raw, "first-row", Seq(0))
            .groupBy((keyCols ++ partCols).map(col): _*)
            .agg(min_by(payload, ord).as("_pm_top")),
            n => col(s"_pm_top.$n"))
        case "partial-update" =>
          // per COLUMN: the latest NON-NULL value wins — a null in a
          // later version never erases an earlier value. SEQUENCE
          // GROUPS override that for their members: the group's
          // columns come ATOMICALLY from the record with the highest
          // non-null group-sequence value (ties to the later arrival,
          // the engine's >= update rule), nulls included — a "true
          // partial-update"; records whose group-sequence is null
          // never touch the group. One max_by per group rides the
          // same single partial-combining aggregate.
          val sg = snap.sequenceGroups
          val inGroup: Map[String, String] = sg.flatMap { case (s, ms) =>
            (s +: ms).map(_ -> s)
          }.toMap
          val plainCols = valueNames.filterNot(inGroup.contains)
          val aggs: Seq[Column] =
            sg.map { case (s, ms) =>
              max_by(struct((s +: ms).map(col): _*),
                when(col(s).isNotNull, struct(col(s), ord)))
                .as(s"_pm_sg_$s")
            } ++ plainCols.map(lastNonNull)
          out(insertOnly(raw, "partial-update", Seq(0, 2))
            .groupBy((keyCols ++ partCols).map(col): _*)
            .agg(aggs.head, aggs.tail: _*),
            n => inGroup.get(n) match {
              case Some(s) => col(s"_pm_sg_$s.$n")
              case None    => col(n)
            })
        case "aggregation" =>
          // per COLUMN: the declared aggregate-function folds the
          // versions; undeclared fields default to
          // last_non_null_value per the docs. Every function is a
          // plain partial-combining Catalyst aggregate (listagg rides
          // collect_list of (order, value) structs, sorted at the
          // final step — merge order IS its concatenation order).
          def fieldAgg(c: String) = snap.fieldAggregates.get(c) match {
            case Some("sum")      => sum(col(c)).as(c)
            case Some("min")      => min(col(c)).as(c)
            case Some("max")      => max(col(c)).as(c)
            case Some("count")    =>
              // count() returns BIGINT regardless of the declared
              // column type (the gate admits any NumericType) — cast
              // back so the output schema matches the table schema
              count(col(c)).cast(snap.schema(c).dataType).as(c)
            case Some("bool_and") => bool_and(col(c)).as(c)
            case Some("bool_or")  => bool_or(col(c)).as(c)
            case Some("last_value") =>
              // latest value INCLUDING nulls — a later null overwrites
              max_by(struct(col(c).as("v")), ord).getField("v").as(c)
            case Some("first_value") =>
              min_by(struct(col(c).as("v")), ord).getField("v").as(c)
            case Some("first_non_null_value") =>
              min_by(col(c), when(col(c).isNotNull, ord)).as(c)
            case Some("listagg") =>
              val delim = snap.fieldListaggDelims.getOrElse(c, ",")
              array_join(
                transform(
                  sort_array(collect_list(when(col(c).isNotNull,
                    struct(ord.as("o"), col(c).as("v"))))),
                  x => x.getField("v")),
                delim).as(c)
            case _ => lastNonNull(c)
          }
          out(insertOnly(raw, "aggregation", Seq(0, 2))
            .groupBy((keyCols ++ partCols).map(col): _*)
            .agg(fieldAgg(valueNames.head),
              valueNames.tail.map(fieldAgg).toSeq: _*),
            col)
        case other => throw new IllegalStateException(
          s"$tableDir: merge-engine=$other — unreachable (gated in " +
            "snapshot())")
      }
    }
  }

  /** FULL COMPACTION of an append-only table (the format's
    * `compact` procedure at full depth): pack the current snapshot's
    * rows into `numFiles` fresh data files and publish a
    * `commitKind=COMPACT` snapshot whose BASE manifest list holds
    * only the new files (delta empty) — exactly how Paimon's own
    * compaction snapshots look to this reader's base+delta replay.
    * Earlier snapshots keep reading (time travel intact). Returns the
    * new snapshot id.
    *
    * Scale shape: one distributed scan + executor parquet write, then
    * O(files) driver footer reads + metadata writes. Single-writer
    * scope.
    *
    * Partitioned tables pack WITHIN each partition: the one scan is
    * salted on (partition keys, bin) and written through
    * `partitionBy` (Paimon data files EXCLUDE partition columns —
    * values ride each manifest entry's `_PARTITION` BinaryRow, which
    * this writer encodes back with [[BinaryRowCodec]]). The manifest
    * entries are stats-complete: `_FILE_SIZE` and `_ROW_COUNT` come
    * from the real file and its parquet footer, so a library reader
    * planning on stats sees truth, not placeholders.
    *
    * PRIMARY-KEY tables run the LSM full-compaction rewrite instead
    * ([[compactPk]]): per (partition, bucket), the bucket's KeyValue
    * files fold under the table's merge engine into ONE file of `+I`
    * rows whose `_SEQUENCE_NUMBER` is re-stamped per key (the
    * winning/max sequence — min under first-row — so LATER writes
    * still override exactly as before), and the deletion-vector index
    * drops out (the dead rows are materialized away). `numFiles` is
    * ignored there: one-file-per-bucket IS full compaction's shape.
    * Remaining PK refusals: `changelog-producer=lookup` /
    * `full-compaction` (those demand a FULL_COMPACTION changelog on
    * compact snapshots — our manifests carry no level metadata to
    * diff the previous compacted state from, and silently emitting
    * none would truncate the change feed).
    *
    * Loud refusals: null partition values. */
  def compact(spark: SparkSession, tableDir: String,
              numFiles: Int = 1): Long = {
    import org.apache.spark.sql.functions.{col, lit, struct, pmod,
      xxhash64}
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val w = walk(spark, tableDir)
    val (fs, snap) = (w.fs, w.snap)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: nothing to compact (no data files)")
    if (snap.primaryKeys.nonEmpty)
      return compactPk(spark, tableDir, fs, snap)
    val partKeys = snap.partitionKeys
    val partTypes: Seq[DataType] =
      if (partKeys.isEmpty) Nil
      else partKeys.map(k => snap.schema(k).dataType)
    val newId = snap.snapshotId + 1
    val tmp = new Path(tableDir, "_tmp_compact")
    val live = readSnapshot(spark, tableDir, snap)
    if (partKeys.isEmpty)
      live.coalesce(numFiles).write.mode("overwrite")
        .parquet(tmp.toString)
    // deterministic salt: a retry-recomputed
    // monotonically_increasing_id can silently duplicate/drop rows
    // mid-shuffle (SPARK-23207 class) — fatal in a table rewrite
    else live
      .withColumn("_graft_bin",
        pmod(xxhash64(live.columns.map(col).toSeq: _*),
          lit(numFiles.toLong)))
      .repartition((partKeys :+ "_graft_bin").map(col): _*)
      .drop("_graft_bin")
      .write.mode("overwrite").partitionBy(partKeys: _*)
      .parquet(tmp.toString)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // walk the staging output: (unescaped string values, file status)
    def walkTmp(dir: Path, vals: Seq[String])
      : Seq[(Seq[String], org.apache.hadoop.fs.FileStatus)] =
      fs.listStatus(dir).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) {
          val i = n.indexOf('=')
          if (i < 0) throw new IllegalStateException(
            s"$tableDir: unexpected non-partition directory $n in the " +
              "compaction staging output")
          val rawVal = n.substring(i + 1)
          if (rawVal == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            throw new IllegalStateException(
              s"$tableDir: compaction produced a null-partition " +
                s"directory $n — outside lite scope")
          walkTmp(st.getPath,
            vals :+ ExternalCatalogUtils.unescapePathName(rawVal))
        } else if (n.endsWith(".parquet")) Seq((vals, st))
        else Nil
      }
    // typed partition tuple from the dir-name strings, under the
    // schema's bounded partition types (same set the decode serves)
    def typed(vals: Seq[String]): Seq[Any] =
      partTypes.zip(vals).map {
        case (BooleanType, v) => v.toBoolean
        case (ByteType, v)    => v.toByte
        case (ShortType, v)   => v.toShort
        case (IntegerType, v) => v.toInt
        case (LongType, v)    => v.toLong
        case (StringType, v)  => v
        case (dt, _) => throw new IllegalStateException(
          s"$tableDir: partition type ${dt.simpleString} — outside " +
            "lite compaction scope")
      }
    // move into the table under the format's own partition-path
    // spelling, read each parquet footer's row count (O(files))
    val moved = walkTmp(tmp, Nil).zipWithIndex.map {
      case ((vals, st), i) =>
        val part = typed(vals)
        val partDirs = partKeys.zip(part).map { case (k, v) =>
          s"$k=${partPathValue(v, snap.defaultPartName)}/"
        }.mkString
        val name = s"compact-${newId}_$i.parquet"
        val dest = new Path(tableDir, s"${partDirs}bucket-0/$name")
        LakeFiles.move(fs, st.getPath, dest)
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            dest, fs.getConf))
        val rc = try footer.getRecordCount finally footer.close()
        (name, part, rc, fs.getFileStatus(dest).getLen)
    }
    fs.delete(tmp, true)
    val files = LakeFiles.Hadoop(fs, tableDir)
    import spark.implicits._
    val entries = moved.map { case (name, part, rc, sz) =>
      (name, if (partKeys.isEmpty) null
             else BinaryRowCodec.encode(part, partTypes), rc, sz)
    }
    files.avro(entries.toDF("_fn", "_part", "_rc", "_sz")
      .select(lit(0).as("_KIND"), col("_part").as("_PARTITION"),
        lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME"), col("_sz").as("_FILE_SIZE"),
          col("_rc").as("_ROW_COUNT")).as("_FILE")),
      s"manifest/m-compact-$newId.avro")
    files.avro(Seq(s"m-compact-$newId.avro").toDF("_FILE_NAME"),
      s"manifest/ml-compact-$newId.avro")
    files.avro(Seq.empty[String].toDF("_FILE_NAME"),
      s"manifest/ml-compact-empty-$newId.avro")
    publishCompact(fs, tableDir, snap, newId)
    newId
  }

  /** Publish compaction snapshot `newId` over `snap`: the new files in
    * the base list `ml-compact-<newId>.avro`, an empty delta. */
  private def publishCompact(fs: FileSystem, tableDir: String,
                             snap: Snapshot, newId: Long): Unit =
    publish(fs, tableDir, newId,
      s"""{"version":3,"id":$newId,"schemaId":${snap.schemaId},
         |"baseManifestList":"ml-compact-$newId.avro",
         |"deltaManifestList":"ml-compact-empty-$newId.avro",
         |"commitKind":"COMPACT","commitUser":"graft",
         |"commitIdentifier":$newId,"timeMillis":0}""".stripMargin)

  /** ONE scan of a PK table's live KeyValue files projecting the
    * trimmed key columns, `_SEQUENCE_NUMBER`, the home bucket
    * (`_pc_bucket`, parsed from the file path) and the partition
    * columns — the latter from a broadcast file→partition map keyed
    * on the decoded `_metadata.file_path` (a per-partition scan
    * branch + unionAll would blow the PLAN up linear in the partition
    * count at thousands of partitions). Loud refusal when a scanned
    * row's file is not in the map (identity mismatch — silently
    * dropping it would corrupt the fold). Shared by [[compactPk]]
    * and the PK writer. */
  private def rawKvScan(spark: SparkSession, tableDir: String,
                        snap: Snapshot, keyCols: Seq[String])
  : DataFrame = {
    import org.apache.spark.sql.functions._
    val partCols = snap.partitionKeys
    val scan = ColumnarScan(spark, tableDir, None,
      snap.files.map(_.path))
    val missing = (keyCols :+ "_SEQUENCE_NUMBER")
      .filterNot(scan.columns.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"$tableDir: primary-key data files lack KeyValue columns " +
        s"${missing.mkString(", ")} — not a KeyValue parquet layout")
    val based = scan.select(
      (keyCols :+ "_SEQUENCE_NUMBER").map(col) ++ Seq(
        regexp_extract(col("_metadata.file_path"),
          "/bucket-(\\d+)/", 1).cast("int").as("_pc_bucket"),
        MetaPaths.decoded(col("_metadata.file_path"))
          .as("_pc_path")): _*)
    if (partCols.isEmpty) based.drop("_pc_path")
    else {
      val pathPartSchema = StructType(
        StructField("_pc_path", StringType) +:
          StructField("_pc_hit", BooleanType) +:
          partCols.map(k => StructField(k, snap.schema(k).dataType)))
      val pathPartRows = snap.files.map(f => org.apache.spark.sql.Row
        .fromSeq(HudiCowLite.normPath(f.path) +: true +: f.partition))
      val pathPartDf = spark.createDataFrame(
        spark.sparkContext.parallelize(pathPartRows, 1),
        pathPartSchema)
      based.join(broadcast(pathPartDf), Seq("_pc_path"), "left")
        // partition values may legitimately be null (default
        // partition), so membership rides an explicit hit marker —
        // an unmatched file must refuse, never silently drop rows
        .filter(when(col("_pc_hit").isNull, raise_error(lit(
          s"$tableDir: a scanned KeyValue row's file is not in the " +
            "snapshot's file→partition map — file-identity mismatch")))
          .otherwise(lit(true)))
        .drop("_pc_path", "_pc_hit")
    }
  }

  /** LSM FULL COMPACTION of a primary-key table (see [[compact]]'s
    * scaladoc for the contract): fold each (partition, bucket)'s
    * KeyValue files into one `+I`-only file under the table's merge
    * engine, publish a COMPACT snapshot, return its id. The merge
    * itself is [[read]]'s own engine fold (deduplicate /
    * partial-update / aggregation / first-row, DVs applied); this
    * writer adds the per-key sequence re-stamp and bucket
    * preservation (future writes hash keys to buckets — collapsing
    * them would corrupt the table for the owning engine). */
  private def compactPk(spark: SparkSession, tableDir: String,
                        fs: FileSystem, snap: Snapshot): Long = {
    import org.apache.spark.sql.functions._
    val producer = snap.changelogProducer
    if (producer == "lookup" || producer == "full-compaction")
      throw new IllegalStateException(
        s"$tableDir: changelog-producer=$producer demands a " +
          "FULL_COMPACTION changelog on compact snapshots — these " +
          "manifests carry no level metadata to diff the previous " +
          "compacted state from, and emitting none would silently " +
          "truncate the change feed; outside lite compaction scope")
    val partCols = snap.partitionKeys
    val partTypes = boundedPartTypes(snap.schema, partCols,
      s"$tableDir compact")
    val trimmed = snap.primaryKeys.filterNot(partCols.contains)
    val keyCols = trimmed.map(k => s"_KEY_$k")
    val valueNames = snap.schema.fieldNames
      .filterNot(partCols.contains).toSeq
    // merged state: the read contract itself (engine fold + DVs)
    val merged = readSnapshot(spark, tableDir, snap)
    // winning sequence + home bucket per key from the raw KeyValue
    // scan: re-stamping MAX (MIN under first-row) keeps every future
    // write's override semantics exactly
    val raw = rawKvScan(spark, tableDir, snap, keyCols)
    val seqF =
      if (snap.mergeEngine == "first-row") min(col("_SEQUENCE_NUMBER"))
      else max(col("_SEQUENCE_NUMBER"))
    val seqAgg = raw
      .groupBy((keyCols ++ partCols).map(col): _*)
      .agg(seqF.as("_pc_seq"), min(col("_pc_bucket")).as("_pc_bucket"))
      .select(keyCols.map(col) ++
        partCols.map(k => col(k).as(s"_pcp_$k")) ++
        Seq(col("_pc_seq"), col("_pc_bucket")): _*)
    val joinCond = (trimmed.map(k => merged(k) <=> col(s"_KEY_$k")) ++
      partCols.map(k => merged(k) <=> col(s"_pcp_$k"))).reduce(_ && _)
    val kv = merged.join(seqAgg, joinCond)
      .select(trimmed.map(k => col(s"_KEY_$k")) ++
        Seq(col("_pc_seq").as("_SEQUENCE_NUMBER"),
          lit(0).as("_VALUE_KIND")) ++
        valueNames.map(n => merged(n).as(n)) ++
        partCols.map(k => merged(k).as(s"_gp_$k")) :+
        col("_pc_bucket").as("_gbucket"): _*)
    val newId = snap.snapshotId + 1
    val moved = stageKvWrite(spark, tableDir, fs, snap, kv, "compact",
      newId)
    import spark.implicits._
    LakeFiles.Hadoop(fs, tableDir).avro(
      kvManifestDf(spark, moved, partCols, partTypes),
      s"manifest/m-compact-$newId.avro")
    LakeFiles.Hadoop(fs, tableDir).avro(
      Seq(s"m-compact-$newId.avro").toDF("_FILE_NAME"),
      s"manifest/ml-compact-$newId.avro")
    LakeFiles.Hadoop(fs, tableDir).avro(
      Seq.empty[String].toDF("_FILE_NAME"),
      s"manifest/ml-compact-empty-$newId.avro")
    publishCompact(fs, tableDir, snap, newId)
    newId
  }

  /** Stage `kv` rows (KeyValue columns + `_gp_<partCol>`/`_gbucket`
    * routing columns, consumed by the staging `partitionBy`) into ONE
    * file per (partition, bucket) and move each into the table as
    * `<partition dirs>/bucket-<b>/<prefix>-<newId>_<i>.parquet`.
    * Returns (file name, typed partition values, bucket, footer row
    * count, byte size) per file — stats-complete manifest inputs. */
  private def stageKvWrite(spark: SparkSession, tableDir: String,
                           fs: org.apache.hadoop.fs.FileSystem,
                           snap: Snapshot, kv: DataFrame,
                           prefix: String, newId: Long)
  : Seq[(String, Seq[Any], Int, Long, Long)] = {
    import org.apache.spark.sql.functions.col
    val partCols = snap.partitionKeys
    val partTypes = boundedPartTypes(snap.schema, partCols,
      s"$tableDir $prefix")
    val tmp = new Path(tableDir, s"_tmp_$prefix")
    // one task — hence one file — per (partition, bucket)
    kv.repartition((partCols.map(k => s"_gp_$k") :+ "_gbucket")
        .map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partCols.map(k => s"_gp_$k") :+ "_gbucket": _*)
      .parquet(tmp.toString)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def walkTmp(dir: Path, vals: Seq[String])
      : Seq[(Seq[String], Int, org.apache.hadoop.fs.FileStatus)] =
      fs.listStatus(dir).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_gbucket=")) {
          val b = n.stripPrefix("_gbucket=").toInt
          fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName)
            .filter(f => f.getPath.getName.endsWith(".parquet") &&
              !f.getPath.getName.startsWith("."))
            .map(f => (vals, b, f))
        } else if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) {
          val i = n.indexOf('=')
          if (i < 0) throw new IllegalStateException(
            s"$tableDir: unexpected non-partition directory $n in the " +
              s"$prefix staging output")
          val rawVal = n.substring(i + 1)
          if (rawVal == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            throw new IllegalStateException(
              s"$tableDir: $prefix staged a null-partition " +
                s"directory $n — outside lite scope")
          walkTmp(st.getPath,
            vals :+ ExternalCatalogUtils.unescapePathName(rawVal))
        } else Nil
      }
    def typed(vals: Seq[String]): Seq[Any] =
      partTypes.zip(vals).map {
        case (BooleanType, v) => v.toBoolean
        case (ByteType, v)    => v.toByte
        case (ShortType, v)   => v.toShort
        case (IntegerType, v) => v.toInt
        case (LongType, v)    => v.toLong
        case (StringType, v)  => v
        case (dt, _) => throw new IllegalStateException(
          s"$tableDir: partition type ${dt.simpleString} — outside " +
            "lite write scope")
      }
    val moved = walkTmp(tmp, Nil).zipWithIndex.map {
      case ((vals, bucket, st), i) =>
        val part = typed(vals)
        val partDirs = partCols.zip(part).map { case (k, v) =>
          s"$k=${partPathValue(v, snap.defaultPartName)}/"
        }.mkString
        val name = s"$prefix-${newId}_$i.parquet"
        val dest = new Path(tableDir, s"${partDirs}bucket-$bucket/$name")
        LakeFiles.move(fs, st.getPath, dest)
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            dest, fs.getConf))
        val rc = try footer.getRecordCount finally footer.close()
        (name, part, bucket, rc, fs.getFileStatus(dest).getLen)
    }
    fs.delete(tmp, true)
    moved
  }

  /** The ADD (`_KIND`=0) manifest rows for [[stageKvWrite]]'s output:
    * partition as a [[BinaryRowCodec]] blob, stats from the real
    * file. */
  private def kvManifestDf(spark: SparkSession,
                           moved: Seq[(String, Seq[Any], Int, Long,
                             Long)],
                           partCols: Seq[String],
                           partTypes: Seq[DataType]): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    moved.map { case (name, part, bucket, rc, sz) =>
      (name, if (partCols.isEmpty) null
             else BinaryRowCodec.encode(part, partTypes), bucket, rc, sz)
    }.toDF("_fn", "_part", "_bucket", "_rc", "_sz")
      .select(lit(0).as("_KIND"), col("_part").as("_PARTITION"),
        col("_bucket").as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME"), col("_sz").as("_FILE_SIZE"),
          col("_rc").as("_ROW_COUNT")).as("_FILE"))
  }

  /** UPSERT into a PRIMARY-KEY table — the format's write path: the
    * rows land as `+I` KeyValue rows at a sequence number ABOVE every
    * stored one, in a fresh file per (partition, bucket), published
    * as a delta (`commitKind=APPEND`) snapshot; the read's own
    * LSM fold then applies the table's merge engine — deduplicate
    * takes the new version, partial-update folds its non-null
    * columns (ABSENT input columns write as null, i.e. a true
    * partial update), aggregation accumulates it, first-row keeps
    * the stored row (the engine's contract — an upsert cannot
    * override first-row). Returns the new snapshot id.
    *
    * Input must carry the primary-key and partition columns; missing
    * VALUE columns write as null. Existing keys route to their home
    * bucket (observed from one raw KeyValue scan); NEW keys route to
    * their partition's single observed bucket — a multi-bucket
    * partition refuses new keys (Paimon's key-hash bucket assignment
    * is outside lite scope), an empty table bootstraps bucket-0.
    *
    * `changelog-producer=input` tables WRITE their changelog too:
    * the input rows are the changelog by that producer's definition,
    * so each staged KV file gains a changelog sibling named by the
    * snapshot's changelogManifestList — [[readChangelog]] then serves
    * exactly this write. Compaction-materialized producers
    * (lookup / full-compaction) refuse, as [[compactPk]] does.
    *
    * Scale shape: ONE raw scan (max sequence + key→bucket map), one
    * routing join, one shuffle into per-(partition, bucket) staged
    * files; O(files) driver moves + bounded metadata. Single-writer
    * scope. Loud refusals: duplicate keys in one batch, missing
    * key/partition columns, append-only tables (no primary key —
    * append through the sink). */
  def upsert(spark: SparkSession, tableDir: String,
             rows: DataFrame): Long =
    writeKv(spark, tableDir, rows, deleteMode = false)

  /** DELETE by primary key — a `-D` KeyValue row per key at a
    * sequence above every stored one ([[upsert]]'s envelope):
    * the read's deduplicate fold then drops the key. Engines other
    * than deduplicate refuse (retractions cannot fold under their
    * aggregates — the read side would refuse the row anyway, this
    * writer refuses BEFORE corrupting the table). `keys` carries the
    * primary-key + partition columns. */
  def deleteKeys(spark: SparkSession, tableDir: String,
                 keys: DataFrame): Long =
    writeKv(spark, tableDir, keys, deleteMode = true)

  /** PREDICATE DELETE by composition: the predicate selects key
    * tuples on the MERGED view, [[deleteKeys]] appends their `-D`
    * rows (deduplicate-engine scope — the writer's own gate names
    * it). A no-match delete is not a table change — returns the
    * CURRENT snapshot id. The matched-key frame persists across the
    * writer's routing/staging jobs so the merged-view scan runs
    * once, not once per job. */
  def delete(spark: SparkSession, tableDir: String,
             condition: Column): Long = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(spark, tableDir)
    if (snap.primaryKeys.isEmpty)
      throw new IllegalArgumentException(
        s"$tableDir: append-only Paimon table (no primary key) — " +
          "no row identity to delete by")
    val need = (snap.primaryKeys ++ snap.partitionKeys).distinct
    val keys = read(spark, tableDir).filter(condition)
      .select(need.map(col): _*).persist()
    try {
      if (keys.limit(1).count() == 0) snap.snapshotId
      else deleteKeys(spark, tableDir, keys)
    } finally { keys.unpersist(); () }
  }

  /** PREDICATE UPDATE by composition: the SET-applied matched rows
    * of the merged view upsert back as higher-sequence KeyValue rows
    * ([[upsert]]). Deduplicate-engine scope — partial-update and
    * aggregation would FOLD the rewrite into the stored value
    * instead of replacing it, so they refuse; SETs touching key or
    * partition columns refuse (a key-moving update is outside
    * scope). A no-match update returns the CURRENT snapshot id. */
  def update(spark: SparkSession, tableDir: String,
             condition: Column,
             set: Map[String, Column]): Long = {
    val snap = snapshot(spark, tableDir)
    if (snap.primaryKeys.isEmpty)
      throw new IllegalArgumentException(
        s"$tableDir: append-only Paimon table (no primary key) — " +
          "no row identity to update by")
    if (snap.mergeEngine != "deduplicate")
      throw new IllegalArgumentException(
        s"$tableDir: merge-engine=${snap.mergeEngine} would FOLD " +
          "the rewritten row into the stored value instead of " +
          "replacing it — predicate update is deduplicate-engine " +
          "scope")
    val view = read(spark, tableDir)
    set.keys.foreach { c =>
      if (!view.columns.contains(c))
        throw new IllegalArgumentException(
          s"$tableDir: SET column $c is not in the schema")
      if (snap.primaryKeys.contains(c) ||
        snap.partitionKeys.contains(c))
        throw new IllegalArgumentException(
          s"$tableDir: SET touches key/partition column $c — a " +
            "key-moving update is outside scope")
    }
    val matched = view.filter(condition).persist()
    try {
      if (matched.limit(1).count() == 0) snap.snapshotId
      else {
        val updated = set.foldLeft(matched: DataFrame) {
          case (df, (c, e)) =>
            df.withColumn(c, e.cast(snap.schema(c).dataType))
        }
        upsert(spark, tableDir, updated)
      }
    } finally { matched.unpersist(); () }
  }

  private def writeKv(spark: SparkSession, tableDir: String,
                      input: DataFrame, deleteMode: Boolean): Long = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val w = walk(spark, tableDir)
    val (fs, snap) = (w.fs, w.snap)
    if (snap.primaryKeys.isEmpty) throw new IllegalStateException(
      s"$tableDir: append-only table (no primary key) — KeyValue " +
        "writes need a PK; append through the Paimon sink instead")
    val op = if (deleteMode) "deleteKeys" else "upsert"
    if (deleteMode && snap.mergeEngine != "deduplicate")
      throw new IllegalStateException(
        s"$tableDir: merge-engine=${snap.mergeEngine} cannot fold -D " +
          "retractions — key deletes are deduplicate-engine scope " +
          "(this matches the read side's own per-row refusal)")
    val producer = snap.changelogProducer
    // producer=input: the INPUT rows ARE the changelog — this writer
    // emits them as changelog files beside the data (below). The
    // compaction-materialized producers demand a changelog this
    // writer cannot derive (it would need the pre-write merged state
    // per key) — refuse, as compactPk does.
    if (producer != "none" && producer != "input")
      throw new IllegalStateException(
        s"$tableDir: changelog-producer=$producer materializes its " +
          s"changelog at COMPACTION — $op cannot derive it, and " +
          "silently skipping it would truncate the change feed; " +
          "outside lite write scope")
    val partCols = snap.partitionKeys
    val partTypes = boundedPartTypes(snap.schema, partCols,
      s"$tableDir $op")
    val trimmed = snap.primaryKeys.filterNot(partCols.contains)
    if (trimmed.isEmpty) throw new IllegalStateException(
      s"$tableDir: primary key (${snap.primaryKeys.mkString(", ")}) " +
        "has no column outside the partition key — not a mergeable " +
        "KeyValue layout")
    val keyCols = trimmed.map(k => s"_KEY_$k")
    val valueNames = snap.schema.fieldNames
      .filterNot(partCols.contains).toSeq
    val needIn = trimmed ++ partCols
    val missingIn = needIn.filterNot(input.columns.contains)
    if (missingIn.nonEmpty) throw new IllegalStateException(
      s"$tableDir: $op input lacks key/partition columns " +
        missingIn.mkString(", "))
    // one raw scan serves BOTH the max stored sequence and the
    // key→bucket / partition→bucket routing maps
    val hasFiles = snap.files.nonEmpty
    val (maxSeq, seqType, kindType, kb, pb) =
      if (!hasFiles)
        (0L, LongType: DataType, ByteType: DataType,
          spark.emptyDataFrame, spark.emptyDataFrame)
      else {
        val raw = rawKvScan(spark, tableDir, snap, keyCols)
        val kindT = ColumnarScan(spark, tableDir, None,
          snap.files.map(_.path)).schema
          .find(_.name == "_VALUE_KIND").map(_.dataType)
          .getOrElse(ByteType)
        val seqT = raw.schema("_SEQUENCE_NUMBER").dataType
        val ms = raw.agg(max(col("_SEQUENCE_NUMBER").cast(LongType)))
          .as[Option[Long]].head().getOrElse(0L)
        val kbDf = raw.groupBy((keyCols ++ partCols).map(col): _*)
          .agg(min(col("_pc_bucket")).as("_kb_b"))
          .select(keyCols.map(k => col(k).as(s"_kbk$k")) ++
            partCols.map(k => col(k).as(s"_kbp_$k")) :+
            col("_kb_b"): _*)
        val pbDf = raw.groupBy(partCols.map(col): _*)
          .agg(countDistinct(col("_pc_bucket")).as("_pb_n"),
            min(col("_pc_bucket")).as("_pb_b"))
          .select(partCols.map(k => col(k).as(s"_pbp_$k")) ++
            Seq(col("_pb_n"), col("_pb_b")): _*)
        (ms, seqT, kindT, kbDf, pbDf)
      }
    // the KeyValue row shape + routing columns
    val shaped = input.select(
      trimmed.map(k => col(k).cast(snap.schema(k).dataType)
        .as(s"_KEY_$k")) ++
        partCols.map(k => col(k).cast(snap.schema(k).dataType)
          .as(s"_gp_$k")) ++
        valueNames.map { v =>
          (if (input.columns.contains(v))
            col(v).cast(snap.schema(v).dataType)
          else lit(null).cast(snap.schema(v).dataType)).as(v)
        }: _*)
    // duplicate check runs on the CAST key tuple — raw keys that
    // collapse under the schema cast ("1" vs "01" into a long) are
    // duplicates too, and the fold order within one sequence number
    // would be ambiguous
    if (shaped.groupBy((keyCols.map(k => col(k)) ++
        partCols.map(k => col(s"_gp_$k"))): _*).count()
        .filter(col("count") > 1).limit(1).count() > 0)
      throw new IllegalStateException(
        s"$tableDir: $op batch has DUPLICATE primary keys — " +
          "fold order within one sequence number would be ambiguous")
    val routed =
      if (!hasFiles) shaped.withColumn("_gbucket", lit(0))
      else {
        val kbCond = (trimmed.map(k =>
          col(s"_KEY_$k") <=> col(s"_kbk_KEY_$k")) ++
          partCols.map(k => col(s"_gp_$k") <=> col(s"_kbp_$k")))
          .reduce(_ && _)
        val j1 = shaped.join(broadcast(kb), kbCond, "left")
          .drop((keyCols.map(k => s"_kbk$k") ++
            partCols.map(k => s"_kbp_$k")): _*)
        val pbCond =
          if (partCols.isEmpty) lit(true)
          else partCols.map(k => col(s"_gp_$k") <=> col(s"_pbp_$k"))
            .reduce(_ && _)
        val j2 = j1.join(broadcast(pb), pbCond, "left")
          .drop(partCols.map(k => s"_pbp_$k"): _*)
        j2.withColumn("_gbucket", coalesce(col("_kb_b"),
          when(col("_pb_n") === 1, col("_pb_b")),
          raise_error(concat(
            lit(s"PaimonLite: $tableDir: a NEW key routes to a " +
              "partition with "),
            coalesce(col("_pb_n").cast("string"), lit("no")),
            lit(" observed buckets — Paimon's key-hash bucket " +
              "assignment is outside lite write scope " +
              "(single-bucket partitions take inserts)")))
            .cast("int")))
          .drop("_kb_b", "_pb_n", "_pb_b")
      }
    val kv = routed
      .withColumn("_SEQUENCE_NUMBER", lit(maxSeq + 1).cast(seqType))
      .withColumn("_VALUE_KIND",
        lit(if (deleteMode) 3 else 0).cast(kindType))
      .select(keyCols.map(col) ++
        Seq(col("_SEQUENCE_NUMBER"), col("_VALUE_KIND")) ++
        valueNames.map(col) ++
        partCols.map(k => col(s"_gp_$k")) :+ col("_gbucket"): _*)
    val newId = snap.snapshotId + 1
    val moved = stageKvWrite(spark, tableDir, fs, snap, kv, "kv", newId)
    LakeFiles.Hadoop(fs, tableDir).avro(
      kvManifestDf(spark, moved, partCols, partTypes),
      s"manifest/m-kv-$newId.avro")
    // base = everything the previous snapshot covered; delta = new
    LakeFiles.Hadoop(fs, tableDir).avro(w.manifests.toDF("_FILE_NAME"),
      s"manifest/ml-kv-base-$newId.avro")
    LakeFiles.Hadoop(fs, tableDir).avro(
      Seq(s"m-kv-$newId.avro").toDF("_FILE_NAME"),
      s"manifest/ml-kv-delta-$newId.avro")
    // producer=input: the written rows ARE the changelog — copy each
    // staged KV file as a changelog sibling (bounded O(files) FS
    // copies; same content by the producer's definition), manifest
    // them, and point the snapshot's changelogManifestList at them so
    // readChangelog serves exactly this write
    val changelogLine =
      if (producer != "input") ""
      else {
        val clMoved = moved.map { case (name, part, bucket, rc, sz) =>
          val partDirs = partCols.zip(part).map { case (k, v) =>
            s"$k=${partPathValue(v, snap.defaultPartName)}/"
          }.mkString
          val src = new Path(tableDir,
            s"${partDirs}bucket-$bucket/$name")
          val clName = s"changelog-$name"
          val dest = new Path(tableDir,
            s"${partDirs}bucket-$bucket/$clName")
          if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dest,
            false, fs.getConf))
            throw new IllegalStateException(
              s"$tableDir: could not place changelog file $clName")
          (clName, part, bucket, rc, sz)
        }
        LakeFiles.Hadoop(fs, tableDir).avro(
          kvManifestDf(spark, clMoved, partCols, partTypes),
          s"manifest/m-kv-cl-$newId.avro")
        LakeFiles.Hadoop(fs, tableDir).avro(
          Seq(s"m-kv-cl-$newId.avro").toDF("_FILE_NAME"),
          s"manifest/ml-kv-cl-$newId.avro")
        s"""\n"changelogManifestList":"ml-kv-cl-$newId.avro","""
      }
    publish(fs, tableDir, newId,
      s"""{"version":3,"id":$newId,"schemaId":${snap.schemaId},
         |"baseManifestList":"ml-kv-base-$newId.avro",
         |"deltaManifestList":"ml-kv-delta-$newId.avro",""".stripMargin +
        changelogLine +
        s"""\n"commitKind":"APPEND","commitUser":"graft",
           |"commitIdentifier":$newId,"timeMillis":0}""".stripMargin)
    newId
  }

  /** EXPIRE-SNAPSHOTS maintenance (snapshot.num-retained at work):
    * retain the LAST `keepLast` numbered snapshots, delete the
    * expired snapshot files, and delete every manifest/data file
    * referenced ONLY by expired snapshots. TAGS are the format's
    * expiry-proof axis — each holds its own snapshot copy — so every
    * tag's file references are treated as retained (the tag keeps
    * reading after the expiry, exactly the q433 contract). Travel to
    * an expired NUMBERED id then refuses through [[snapshot]]'s own
    * missing-file gate. Returns the expired ids.
    *
    * CHANGELOGS: by default an expired snapshot that carries a
    * changelogManifestList refuses — changelog retention is its own
    * knob (changelog.num-retained), and expiring under it silently
    * truncates the change feed. `dropChangelogs=true` opts into
    * expiring the changelog WITH the snapshot (the format's behavior
    * when no separate changelog retention is configured): the
    * expired snapshot's changelog manifests AND data files — located
    * exactly as the changelog reader would, partition dirs included —
    * become orphan candidates, while retained/tagged snapshots'
    * changelogs always survive. Reading the expired changelog then
    * refuses through the snapshot gate. Bounded metadata work plus
    * O(orphans) deletes; single-writer scope. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
                      keepLast: Int = 1,
                      dropChangelogs: Boolean = false): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = fsOf(spark, tableDir)
    if (!fs.exists(new Path(tableDir, "snapshot")))
      throw new IllegalStateException(s"$tableDir has no snapshot directory")
    val ids = snapshotFiles(fs, tableDir)
    if (ids.size <= keepLast) return Nil
    val (expired, retained) = ids.splitAt(ids.size - keepLast)
    // paths one snapshot document references: its manifest lists,
    // their manifests, the data files, and its changelog files — the
    // latter live outside the base/delta replay, so expiry locates
    // them explicitly, exactly as the changelog reader does
    def pathsOf(id: Option[Long], tag: Option[String]): Set[String] = {
      val w = walk(spark, tableDir, snapshotId = id, tag = tag)
      val changelog = (w.json \ "changelogManifestList").extractOpt[String]
      if (!dropChangelogs && id.exists(expired.contains) &&
        changelog.nonEmpty)
        throw new IllegalStateException(
          s"$tableDir: snapshot ${id.get} carries a changelog — " +
            "changelog retention is its own knob " +
            "(changelog.num-retained); pass dropChangelogs=true to " +
            "expire the changelog with the snapshot")
      def exists(m: String) =
        fs.exists(new Path(resolveManifest(tableDir, m)))
      val clManifests = changelog.filter(exists).toSeq
        .flatMap(manifestList(spark, tableDir, _))
      val lists = Seq("baseManifestList", "deltaManifestList")
        .flatMap(k => (w.json \ k).extractOpt[String]) ++ changelog
      val clFiles = clManifests.filter(exists).flatMap(mf =>
        entries(spark, tableDir, w.schema, mf, "changelog manifest"))
        .map(_.file.path)
      ((lists ++ w.manifests ++ clManifests)
        .map(resolveManifest(tableDir, _)) ++
        w.snap.files.map(_.path) ++ clFiles).toSet
    }
    val tagNames: Seq[String] = {
      val tagDir = new Path(tableDir, "tag")
      if (!fs.exists(tagDir)) Nil
      else fs.listStatus(tagDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("tag-") =>
          n.stripPrefix("tag-") }
    }
    val expiredPaths = expired.map(i => pathsOf(Some(i), None))
    val retainedPaths =
      (retained.map(i => pathsOf(Some(i), None)) ++
        tagNames.map(t => pathsOf(None, Some(t)))).toSet.flatten
    val orphans = expiredPaths.toSet.flatten -- retainedPaths
    // drop the expired snapshot documents FIRST (a crash between
    // steps leaves a valid table plus unreferenced files), then the
    // orphans, then the EARLIEST hint
    expired.foreach(i => fs.delete(
      new Path(tableDir, s"snapshot/snapshot-$i"), false): Unit)
    LakeFiles.deleteInside(fs, tableDir, orphans)(p =>
      s"$tableDir: expiry could not delete orphan $p")
    AtomicFiles.write(fs,
      new Path(tableDir, "snapshot/EARLIEST"),
      retained.head.toString, replace = true)
    expired
  }
}
