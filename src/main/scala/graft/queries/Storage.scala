package graft.queries

import graft.{QueryModule, Tables}
import graft.sources.LakeFiles
import graft.sources.LakeFiles.{jstr, rm}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decimal/interval type coverage (SURVEY §1.2) and bucketed co-located
  * joins (§2.1 row 18 / §7.2 step 8): bucketing pre-shuffles data once at
  * write time so every subsequent equi-join on the bucket key runs with
  * NO exchange — at 100 TB this turns the nightly fact-fact join from the
  * dominant shuffle into a local merge (BucketedJoinSpec asserts the
  * exchange-free plan).
  */
object Storage extends QueryModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Hilbert-curve clustered layout + 2-D box read — q226's Morton
    // sibling with the STRONGER locality guarantee (consecutive curve
    // positions are always grid-adjacent; HilbertSpec proves
    // bijectivity + unit-step adjacency and shows Morton teleporting
    // on the same grid). Both key columns scale onto the 8-bit grid by
    // table stats (monotone integer div, so raw-column box predicates
    // still map to curve regions), the write range-partitions + sorts
    // on the index, and the box read prunes by the resulting tight
    // per-file min/max footers. The oracle re-derives every Hilbert
    // index through the 8 unrolled quadrant/rotation rounds in SQL —
    // the curve math itself is cross-checked, not just the row set.
    "q318_hilbert_box" -> { (s, dir) =>
      import graft.functions.Hilbert
      val li = Tables.df(s, dir, "lineitem")
      val b = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val (pMin, pMax) = (b.getLong(0), b.getLong(1))
      val (sMin, sMax) = (b.getLong(2), b.getLong(3))
      val scaled = li
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .withColumn("cx",
          expr(s"(l_partkey - $pMin) * 256 div ${pMax - pMin + 1}"))
        .withColumn("cy",
          expr(s"(l_suppkey - $sMin) * 256 div ${sMax - sMin + 1}"))
      val h = Hilbert.withIndex(scaled, col("cx"), col("cy"), 8, "hval")
        .drop("cx", "cy")
      val path = "/tmp/graft_warehouse/li_hilbert"
      h.repartitionByRange(8, col("hval"))
        .sortWithinPartitions(col("hval"))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .filter(col("l_partkey").between(pMin, pMin + (pMax - pMin) / 8)
          && col("l_suppkey").between(sMin, sMin + (sMax - sMin) / 4))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Exact decimal arithmetic: +, -, * on DECIMAL stay exact; emitted as
    // doubles. (Division/overflow semantics differ between engines'
    // decimal rules, so division happens in double on both sides.)
    "q58_decimal" -> { (s, dir) =>
      val dp = col("l_extendedprice").cast(DecimalType(12, 2))
      val dq = col("l_quantity").cast(DecimalType(12, 2))
      val dd = col("l_discount").cast(DecimalType(4, 2))
      Tables.df(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          (dp + dq).cast(DoubleType).as("dec_add"),
          (dp - dq).cast(DoubleType).as("dec_sub"),
          (dp * dd).cast(DoubleType).as("dec_mul"),
          (dp.cast(DoubleType) / dq.cast(DoubleType)).as("dbl_div"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Interval arithmetic on dates and timestamps.
    "q59_intervals" -> { (s, dir) =>
      Tables.df(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).cast(DateType)
            .as("plus3d"),
          (col("o_orderdate") - expr("INTERVAL 12 HOURS")).cast(DateType)
            .as("minus12h"),
          add_months(col("o_orderdate").cast(DateType), 2).as("plus2m"))
        .orderBy(col("o_orderkey"))
    },

    // Bucketed tables + co-located join: both sides bucketed (8 buckets)
    // and sorted on the join key at write time; the join then needs no
    // shuffle at read time.
    "q64_bucketed_join" -> { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val ord = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.write.mode("overwrite")
        .option("path", "/tmp/graft_warehouse/li_b")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_li_b")
      ord.write.mode("overwrite")
        .option("path", "/tmp/graft_warehouse/ord_b")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_ord_b")
      // merge hint: at bench scale the small side would auto-broadcast,
      // hiding the point — at 100 TB neither side broadcasts and SMJ over
      // co-located buckets (no exchange) is exactly the plan you want.
      val bl = s.table("graft_li_b").hint("merge")
      val bo = s.table("graft_ord_b")
      bl.join(bo, bl("l_orderkey") === bo("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    // Z-order clustered layout + 2-D box query: Morton-interleave
    // (l_partkey, l_suppkey), range-partition + sort the write on the
    // curve value, then answer a box predicate from the clustered copy.
    // A single-column sort clusters only its leading dimension; the
    // Z-curve gives BOTH dimensions tight per-file min/max footers, so
    // at 100 TB the box predicate prunes to O(box area) files instead
    // of scanning every file for the second dimension (ZOrderSpec
    // measures the locality: matched rows concentrate in a fraction of
    // the files a hash layout spreads them over). The oracle computes
    // the identical magic-bits interleave arithmetically — the
    // clustered round-trip must be value-lossless.
    "q226_zorder_box" -> { (s, dir) =>
      import graft.functions.ZOrder
      val z = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          ZOrder.interleave16(col("l_partkey"), col("l_suppkey"))
            .as("zval"))
      val path = "/tmp/graft_warehouse/li_zorder"
      z.repartitionByRange(8, col("zval"))
        .sortWithinPartitions(col("zval"))
        .write.mode("overwrite").parquet(path)
      // Box = first 1/8 of the partkey domain x first 1/4 of the
      // suppkey domain, from table min/max statistics (a parquet-footer
      // read; production takes these from catalog stats). Resolving the
      // bounds at plan-build time keeps the box predicate LITERAL, so
      // it pushes into the parquet scan and the z-layout's tight
      // per-file min/max footers actually skip files — a
      // runtime-computed bound would defeat the layout's purpose.
      val b = Tables.df(s, dir, "lineitem")
        .agg(min("l_partkey"), max("l_partkey"),
          min("l_suppkey"), max("l_suppkey")).head()
      val (pLo, pHi) = (b.getLong(0), b.getLong(0) +
        (b.getLong(1) - b.getLong(0)) / 8)
      val (sLo, sHi) = (b.getLong(2), b.getLong(2) +
        (b.getLong(3) - b.getLong(2)) / 4)
      s.read.parquet(path)
        .filter(col("l_partkey").between(pLo, pHi) &&
          col("l_suppkey").between(sLo, sHi))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // 3-D Z-order — the multi-dimensional generalization of q226:
    // scale three columns onto the 10-bit Morton grid (stats-derived
    // monotone scaling, so raw-column box predicates still correspond
    // to curve regions), cluster the write on the 30-bit code, answer
    // a 3-D box from the clustered copy. The per-bit interleave math
    // is pinned in ZOrderSpec; the oracle checks the round trip is
    // value-lossless via the same literal box on the source table.
    "q272_zorder3d_box" -> { (s, dir) =>
      import graft.functions.ZOrder
      val li = Tables.df(s, dir, "lineitem")
      val b = li.agg(
        min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey"),
        min("l_orderkey"), max("l_orderkey")).head()
      def scale(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
        ((c - lo) * 1023L / (math.max(1L, hi - lo))).cast(LongType)
      val z = li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .withColumn("zval", ZOrder.interleave3(
          scale(col("l_partkey"), b.getLong(0), b.getLong(1)),
          scale(col("l_suppkey"), b.getLong(2), b.getLong(3)),
          scale(col("l_orderkey"), b.getLong(4), b.getLong(5))))
      val path = "/tmp/graft_warehouse/li_zorder3d"
      z.repartitionByRange(8, col("zval"))
        .sortWithinPartitions(col("zval"))
        .write.mode("overwrite").parquet(path)
      val (pHi, sHi, oHi) = (
        b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4,
        b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 4,
        b.getLong(4) + (b.getLong(5) - b.getLong(4)) / 2)
      s.read.parquet(path)
        .filter(col("l_partkey").between(b.getLong(0), pHi) &&
          col("l_suppkey").between(b.getLong(2), sHi) &&
          col("l_orderkey").between(b.getLong(4), oHi))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Table content fingerprint — the migration-validation op: an
    // order-insensitive checksum (sum + xor of a per-row md5-derived
    // 32-bit word over the stable key columns) that two engines — or
    // two copies of a 100 TB table — can compare without moving rows.
    // One scan, one scalar row; any dropped/duplicated/mutated row
    // flips it.
    "q273_table_fingerprint" -> { (s, dir) =>
      val h = conv(substring(md5(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_returnflag"))), 1, 8), 16, 10)
        .cast(LongType)
      Tables.df(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"),
          sum(h).as("sum_fp"),
          expr("bit_xor(" +
            "cast(conv(substring(md5(concat_ws('|', l_orderkey, " +
            "l_linenumber, l_partkey, l_suppkey, l_returnflag)), " +
            "1, 8), 16, 10) as bigint))").as("xor_fp"))
    },

    // Dynamic partition pruning on a FILE-SOURCE partitioned table —
    // the other half of the catalog-side runtime filtering q172/q225
    // pin: the fact lands partitioned by a bucket column, the dim-side
    // predicate (suppkey < 8) is opaque to static analysis through the
    // modulo, so only RUNTIME pruning (dynamicpruningexpression from
    // the broadcast, plan-asserted in PlanSpec) keeps the scan to the
    // qualifying partition directories. At 100 TB DPP is the single
    // biggest fact-scan saver on star joins.
    "q274_dpp" -> { (s, dir) =>
      val path = "/tmp/graft_warehouse/li_bucketed_dirs"
      Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"),
          (col("l_suppkey") % 16).cast(IntegerType).as("sbucket"))
        .write.mode("overwrite").partitionBy("sbucket").parquet(path)
      val dim = Tables.df(s, dir, "supplier")
        .filter(col("s_suppkey") < 8)
        .select(col("s_suppkey"), col("s_name"),
          (col("s_suppkey") % 16).cast(IntegerType).as("db"))
      s.read.parquet(path)
        .join(dim, col("sbucket") === col("db") &&
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("qty"))
        .orderBy(col("s_name"))
    },

    // Small-file compaction — the table-maintenance op (OPTIMIZE /
    // rewrite_data_files) every streaming-ingested 100 TB table needs
    // nightly: a fragmented landing zone (64 shards here; micro-batch
    // commits in production) is rewritten into a few large range-
    // clustered files. The oracle checks the rewrite is content-
    // LOSSLESS (per-flag census over the compacted copy equals the
    // census over the source); ZOrderSpec's sibling test pins the
    // mechanical point — the file count actually drops.
    "q247_compaction" -> { (s, dir) =>
      val frag = "/tmp/graft_warehouse/li_fragmented"
      val compact = "/tmp/graft_warehouse/li_compacted"
      val src = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      src.repartition(64).write.mode("overwrite").parquet(frag)
      s.read.parquet(frag)
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(compact)
      s.read.parquet(compact)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },

    // Delta-log table read (lakehouse interop — the reference plugs
    // Iceberg/Hudi/Paimon table formats into its engine via convert
    // providers, reference thirdparty/auron-iceberg/.../
    // IcebergConvertProvider.scala; this is the same leg Spark-first).
    // The query AUTHORS a Delta-layout table from lineitem using only
    // the public delta.io PROTOCOL.md shapes — _delta_log JSON commits
    // with metaData/add/remove actions, partition values carried in
    // the log (never in the data files), one add.path percent-encoded
    // per RFC 2396 — then reads it back through DeltaLogLite. Commit 0
    // adds batches A (l_orderkey%10=0) and B (=1); commit 1 adds C
    // (=2) and REMOVES every batch-A file, so the latest snapshot is
    // B∪C and the oracle recomputes exactly that subset straight from
    // the source parquet. Snapshot resolution is bounded plan-time
    // metadata (the log is KBs); the data read is Spark's native
    // vectorized parquet scan, so pushdown/pruning/codegen all hold at
    // 100 TB.
    "q389_delta_read" -> { (s, dir) =>
      val root = authorDeltaTable(s, dir)
      deltaCensus(graft.sources.DeltaLogLite.read(s, root))
    },

    // SHALLOW CLONE shape — the clone's log re-lists the SOURCE
    // table's live files as ABSOLUTE percent-encoded file: URIs
    // (PROTOCOL.md: add.path is relative OR absolute). The clone dir
    // holds ONLY _delta_log; every data byte reads from the source
    // root, including the space-named batch-1 file whose encoding
    // must survive the absolute spelling. Census = the source's
    // current snapshot.
    "q439_delta_shallow_clone" -> { (s, dir) =>
      deltaCensus(graft.sources.DeltaLogLite
        .read(s, authorDeltaCloneTable(s, dir)))
    },

    // Same table, versionAsOf=0: time travel serves the PRE-remove
    // snapshot (A∪B) from the identical log — proving replay stops at
    // the requested version rather than always racing to latest.
    "q390_delta_time_travel" -> { (s, dir) =>
      val root = authorDeltaTable(s, dir)
      deltaCensus(
        graft.sources.DeltaLogLite.read(s, root, versionAsOf = Some(0L)))
    },

    // Same table, timestampAsOf=1500ms: between commit 0 (stamped
    // 1000 via commitInfo.timestamp — the deterministic
    // inCommitTimestamps surface) and commit 1 (2000), so the
    // timestamp resolves to version 0 — the OTHER public time-travel
    // axis next to q390's versionAsOf.
    "q416_delta_ts_travel" -> { (s, dir) =>
      val root = authorDeltaTable(s, dir)
      deltaCensus(graft.sources.DeltaLogLite
        .read(s, root, timestampAsOf = Some(1500L)))
    },

    // Iceberg-metadata table read — the second lakehouse leg
    // (reference thirdparty/auron-iceberg/.../
    // IcebergConvertProvider.scala). The query authors an Iceberg-spec
    // table over the SAME batch layout as q389 — metadata/v1.metadata
    // .json + version-hint.text, Avro manifest lists, Avro manifests
    // whose data_file structs name the parquet files — then resolves
    // the current snapshot through IcebergLite. Snapshot 2's manifest
    // list carries batch A only as a DELETED-status tombstone manifest
    // (the spec's one-snapshot retention shape), so live = B∪C and the
    // oracle recomputes that subset from the source. Manifest replay
    // is bounded plan-time Avro read on the driver (MetaAvro, no Spark
    // job, like q389's log replay); data reads stay native parquet
    // scans.
    "q391_iceberg_read" -> { (s, dir) =>
      deltaCensus(
        graft.sources.IcebergLite.read(s, authorIcebergTable(s, dir)))
    },

    // Same table pinned to snapshot-id 1 (pre-delete): A∪B — proving
    // snapshot selection resolves through the snapshot list, not just
    // current-snapshot-id.
    "q392_iceberg_snapshot" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergTable(s, dir), snapshotId = Some(1L)))
    },

    // Iceberg NAMED REFS — the metadata's refs map (branches/tags,
    // the VERSION AS OF 'tag' axis): the 'v1' tag pins snapshot 1, so
    // the census equals q392's explicit-id read; an unknown ref name
    // refuses listing what exists (IcebergSpec).
    "q432_iceberg_ref" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergTable(s, dir), ref = Some("v1")))
    },

    // Iceberg v2 POSITIONAL deletes — snapshot 2 of a second authored
    // table keeps data files A∪B and adds a delete manifest whose
    // positional-delete parquet names (file_path, pos) for every
    // batch-A row with l_quantity > 25 (ordinals derived from the real
    // file via _metadata.row_index at authoring time). The reader
    // LEFT ANTI-joins the delete set against the data scan's
    // (_metadata.file_path, _metadata.row_index) — delete side is
    // auto-broadcast from parquet stats when small, shuffled when not
    // — so live = B ∪ (A where quantity ≤ 25) and the oracle
    // recomputes that subset from the source. (Equality deletes stay
    // loudly refused.)
    "q396_iceberg_pos_delete" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergDeleteTable(s, dir)))
    },

    // Iceberg FIELD-ID column resolution — the spec's column identity.
    // The table renamed l_returnflag → l_flag (same field id 4)
    // mid-history, so the current snapshot mixes old- and new-named
    // parquet files; the reader stamps the schema with parquet.field.id
    // metadata and Spark's field-id matching reads BOTH correctly in
    // one native scan, no per-file footer sweep. A name-resolving
    // reader would silently null every batch-A flag and hash-mismatch.
    // Iceberg NAME MAPPING (`schema.name-mapping.default` — the
    // spec's migration surface): the snapshot mixes an ID-LESS
    // parquet file carrying pre-migration column names with a normal
    // id-stamped file. One distributed footer sweep classifies them;
    // the id-less file reads by its MAPPED names and projects back,
    // the stamped file keeps field-id resolution. Mapping-less
    // tables still refuse id-less files loudly (IcebergSpec).
    // v3 INITIAL-DEFAULT columns — batch A predates column l_bonus
    // (its footer lacks id 5) so its rows read the default 7; batch B
    // stores l_orderkey%5. One footer sweep splits the legs; the
    // census sums l_bonus per flag, so a null-instead-of-default (or
    // default-instead-of-stored) read hash-mismatches.
    "q451_iceberg_initial_default" -> { (s, dir) =>
      graft.sources.IcebergLite
        .read(s, authorIcebergDefaultTable(s, dir))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_bonus")).as("sum_bonus"))
        .orderBy(col("l_returnflag"))
    },

    // FORMAT-V3 Iceberg DELETION VECTORS — v3's replacement for
    // positional delete files: one Puffin blob per data file (the
    // published deletion-vector-v1 framing, spec-identical to Delta's
    // DV serialization), navigated by the manifest's content_offset/
    // content_size, decoded executor-side, anti-joined on
    // (data file, ordinal). The census hash-catches any mis-decoded
    // ordinal; framing mismatches refuse (IcebergSpec).
    "q447_iceberg_v3_dv" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergDvTable(s, dir)))
    },

    // MIGRATED Iceberg table + LATER v2 deletes — q436's name-mapped
    // shape plus a positional delete (batch A's l_quantity<=5 row
    // ordinals) and an equality delete (keys with l_quantity>40) at
    // sequence 2. Deletes must apply across BOTH scan legs: the
    // census hash-catches a delete that silently skipped the id-less
    // (mapped) leg or the id-stamped leg.
    "q446_iceberg_mapped_deletes" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergMappedDeleteTable(s, dir)))
    },

    "q436_iceberg_name_mapping" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergNameMapTable(s, dir)))
    },

    "q425_iceberg_rename" -> { (s, dir) =>
      graft.sources.IcebergLite.read(s, authorIcebergRenameTable(s, dir))
        .groupBy(col("l_flag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("l_flag"))
    },

    // Delta DELETION VECTORS — the modern row-level-delete layout
    // (reader version 3 + the deletionVectors feature). Commit 1
    // re-adds batch A with a real roaring-bitmap .bin marking every
    // l_quantity > 25 ordinal dead; the reader resolves the
    // u-storage id (base85 UUID), verifies version/size/magic/CRC,
    // decodes bitmaps EXECUTOR-SIDE, and LEFT ANTI-joins the dead set
    // on (_metadata.file_path, row_index). A reader that ignored the
    // DV would resurrect the deleted rows and hash-mismatch here.
    "q424_delta_deletion_vectors" -> { (s, dir) =>
      deltaCensus(graft.sources.DeltaLogLite
        .read(s, authorDeltaDvTable(s, dir)))
    },

    // Delta V2 CHECKPOINTS — the layout modern writers default to.
    // Versions 0/1 were checkpointed as a UUID-named manifest whose
    // sidecar actions carry the adds (two parquet files under
    // _delta_log/_sidecars/), and their JSON commits are GONE — only
    // the v2 path can reconstruct the state; commit 2 then appends
    // batch C through the normal JSON replay on top.
    "q428_delta_v2_checkpoint" -> { (s, dir) =>
      deltaCensus(graft.sources.DeltaLogLite
        .read(s, authorDeltaV2CkptTable(s, dir)))
    },

    // Delta CHANGE DATA FEED — the incremental-ETL surface. Commit 0
    // blind-appends batch A (CDF inserts synthesized from the adds,
    // per the protocol); commit 1 is an UPDATE that wrote cdc files:
    // preimage/postimage rows for every A row with l_quantity > 40
    // (postimage doubles l_extendedprice), with the rewrite's
    // add/remove actions correctly IGNORED by the CDF reader. The
    // census groups by (_change_type, _commit_version) and the oracle
    // recomputes all three change classes from the source.
    "q420_delta_cdf" -> { (s, dir) =>
      val root = authorDeltaCdfTable(s, dir)
      graft.sources.DeltaLogLite.readChanges(s, root, 0L, 1L)
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_change_type"), col("_commit_version"))
    },

    // CDF on a COLUMN-MAPPED table — q420's change history, but data
    // AND cdc files store physical column spellings (mode=name) while
    // _change_type keeps its literal name; the reader resolves mapped
    // fields by physical name and _change_type by name. A reader that
    // applied the mapping to _change_type (or skipped it for the
    // data columns) hash-mismatches or fails to resolve.
    "q456_delta_cdf_mapped" -> { (s, dir) =>
      val root = authorDeltaCdfMapTable(s, dir)
      graft.sources.DeltaLogLite.readChanges(s, root, 0L, 1L)
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_change_type"), col("_commit_version"))
    },

    // CDF SYNTHESIS — the protocol's fallback for commits that wrote
    // no cdc files: dataChange adds are the inserts, removes are the
    // deletes (the removed file's live content), and a file
    // removed+re-added with a GROWN deletion vector contributes
    // exactly the newly-dead rows (dvNew \ dvOld), never a whole-file
    // churn. The fixture exercises all three: a pure file delete, a
    // first DV, and a DV that grows. A reader that emitted the
    // re-added file's full content (or dropped the file delete)
    // hash-mismatches here.
    // OPTIMIZE/compaction: rewrite the DV-carrying two-file table into
    // ONE fresh file via a dataChange=false commit. The census reads
    // BOTH surfaces after the rewrite: the batch read (must equal the
    // pre-compaction live rows — A's q<=25 plus all of B, the vector
    // materialized away) and the change feed across the WHOLE history
    // including the compaction version (must contain ONLY commits 0-1's
    // changes — a compactor that emitted churn adds rows here and
    // hash-mismatches).
    "q471_delta_compact" -> { (s, dir) =>
      val root = authorDeltaCompactTable(s, dir)
      val v = graft.sources.DeltaLogLite.compact(s, root)
      val readSide = graft.sources.DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val cdfSide = graft.sources.DeltaLogLite.readChanges(s, root, 0L, v)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("cdf").as("surface"),
          col("_change_type").as("k"), col("n"), col("sum_qty"))
      readSide.unionByName(cdfSide).orderBy(col("surface"), col("k"))
    },

    // Delta VACUUM after OPTIMIZE — the protocol's reclaim op at
    // retention 0: the superseded originals (a.parquet, b.parquet)
    // and the materialized-away DV file go; the packed file stays.
    // The census reads the post-vacuum table plus the deleted-file
    // count (exactly 3 — a vacuum that reached the live file breaks
    // the read, one that missed a file breaks the count).
    "q478_delta_vacuum" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      val root = authorDeltaCompactTable(s, dir)
      DeltaLogLite.compact(s, root): Unit
      val deleted = DeltaLogLite.vacuum(s, root)
      DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
        .unionByName(s.range(1).select(lit("vacuum").as("surface"),
          lit("deleted").as("k"), lit(deleted.size.toLong).as("n"),
          lit(null).cast(DoubleType).as("sum_qty")))
        .orderBy(col("surface"), col("k"))
    },

    // Hudi CLEAN after clustering — KEEP_LATEST_FILE_VERSIONS: the
    // three superseded base files (gA's two versions, gB's one) go;
    // the clustered file stays; the clean marker is not a data commit.
    "q479_hudi_clean" -> { (s, dir) =>
      import graft.sources.HudiCowLite
      val root = authorHudiClusterTable(s, dir)
      HudiCowLite.cluster(s, root): Unit
      val deleted = HudiCowLite.clean(s, root)
      HudiCowLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_price"))
        .unionByName(s.range(1).select(lit("clean").as("surface"),
          lit("deleted").as("k"), lit(deleted.size.toLong).as("n"),
          lit(null).cast(DoubleType).as("sum_price")))
        .orderBy(col("surface"), col("k"))
    },

    // Iceberg rewrite-data-files: pack the live rows — DV on A
    // (q>35) and the seq-2 equality delete (flag R) both
    // materialized — into one file under a REPLACE snapshot. The
    // census reads TWO surfaces: the post-compaction read (must equal
    // the pre-compaction live rows — no R group at all) and a time
    // travel to the PRE-compaction snapshot (history intact: the R
    // rows of the raw files still visible minus the delete surface —
    // identical here, proving travel still resolves; the row counts
    // pin that the replace snapshot didn't rewrite history).
    "q472_iceberg_compact" -> { (s, dir) =>
      val root = authorIcebergCompactTable(s, dir)
      val newId = graft.sources.IcebergLite.compact(s, root)
      def census(surface: String, df: DataFrame): DataFrame =
        df.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_qty"))
          .select(lit(surface).as("surface"), col("l_returnflag"),
            col("n"), col("sum_qty"))
      census("compacted", graft.sources.IcebergLite.read(s, root))
        .unionByName(census("travel", graft.sources.IcebergLite
          .read(s, root, snapshotId = Some(newId - 1))))
        .orderBy(col("surface"), col("l_returnflag"))
    },

    "q464_delta_cdf_synth" -> { (s, dir) =>
      val root = authorDeltaCdfSynthTable(s, dir)
      graft.sources.DeltaLogLite.readChanges(s, root, 0L, 3L)
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_change_type"), col("_commit_version"))
    },

    // Paimon with ORC data files — the format's DEFAULT file.format,
    // so this is the layout most real Paimon tables actually have.
    // Same snapshot/manifest replay; the data scan dispatches to
    // Spark's native vectorized ORC reader (pushdown/pruning/codegen
    // hold the same way parquet's do). Mixed parquet+orc snapshots
    // refuse.
    "q418_paimon_orc" -> { (s, dir) =>
      deltaCensus(graft.sources.PaimonLite
        .read(s, authorPaimonOrcTable(s, dir)))
    },

    // Hudi COW with ORC base files (hoodie.table.base.file.format=ORC
    // — a real deployment shape the reference's provider also handles,
    // thirdparty/auron-hudi HudiScanSupport OrcFormat). Timeline
    // replay unchanged; the scan dispatches to native ORC.
    "q419_hudi_orc" -> { (s, dir) =>
      deltaCensus(graft.sources.HudiCowLite
        .read(s, authorHudiOrcTable(s, dir)))
    },

    // One entry point over all four formats: GraftLake DETECTS each
    // authored table's layout from its own marker (_delta_log /
    // metadata JSON / .hoodie / snapshot+schema) and dispatches to the
    // right reader — the UX face of the reference's side-by-side
    // convert providers (thirdparty/auron-*). The censuses of all four
    // latest snapshots, tagged by detected format, must match the
    // oracle's recomputation of each table's upsert algebra.
    "q417_lakehouse_autodetect" -> { (s, dir) =>
      val tables = Seq(
        "delta" -> authorDeltaTable(s, dir),
        "hudi" -> authorHudiTable(s, dir),
        "iceberg" -> authorIcebergTable(s, dir),
        "paimon" -> authorPaimonTable(s, dir))
      tables.map { case (fmt, root) =>
        deltaCensus(graft.sources.GraftLake.read(s, root))
          .withColumn("fmt", lit(fmt))
      }.reduce(_ unionByName _)
        .orderBy(col("fmt"), col("l_returnflag"))
    },

    // Delta COLUMN MAPPING (mode=name) — the authored table's data
    // files carry PHYSICAL col-<n> column names; the logical schema's
    // field metadata (delta.columnMapping.physicalName) maps them
    // back, the partition column travels in the log keyed by its
    // physical name, and protocol minReaderVersion=2 declares the
    // capability. This is what every real Delta table looks like
    // after a column rename — the reader projects physical → logical
    // and the census hash-matches the source.
    "q414_delta_column_mapping" -> { (s, dir) =>
      deltaCensus(graft.sources.DeltaLogLite
        .read(s, authorDeltaMappedTable(s, dir)))
    },

    // columnMapping mode=id — the data files' STORED names are rotated
    // against the mapping and only the stamped parquet field ids carry
    // the true identity; a name-resolving read returns the wrong
    // columns and hash-mismatches here.
    "q429_delta_cmap_id" -> { (s, dir) =>
      deltaCensus(graft.sources.DeltaLogLite
        .read(s, authorDeltaIdMappedTable(s, dir)))
    },

    // INLINE deletion vectors (storageType=i): the roaring-bitmap
    // payload travels base85-encoded inside the log line itself — the
    // third and last DV storage type, same dead-row anti-join.
    "q430_delta_inline_dv" -> { (s, dir) =>
      deltaCensus(graft.sources.DeltaLogLite
        .read(s, authorDeltaInlineDvTable(s, dir)))
    },

    // Iceberg v2 EQUALITY deletes — snapshot 2 of a third authored
    // table adds an equality-delete parquet on field id 1
    // (l_orderkey): every batch-A key with l_quantity > 30 dies, BUT
    // the same snapshot re-inserts A's l_quantity > 45 subset as data
    // file B at the delete's own sequence — the spec's STRICT
    // data_seq < delete_seq ordering keeps B alive (an unordered or
    // <=-ordered implementation would hash-mismatch here). The reader
    // turns each (sequence, column-set) delete group into one
    // null-safe LEFT ANTI join against the distinct delete keys, with
    // per-file sequences attached via a bounded broadcast lookup —
    // delete sides auto-broadcast when small, shuffle when not, so
    // the plan holds at 100 TB. The manifest list and its data and
    // delete manifests (sequence numbers, equality_ids) are read on
    // the driver by MetaAvro, so resolving the snapshot runs no Spark
    // job.
    "q406_iceberg_eq_delete" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergEqDeleteTable(s, dir)))
    },

    // Hudi COPY-ON-WRITE table read — the third lakehouse leg
    // (reference thirdparty/auron-hudi). The query authors a
    // Hudi-layout table: .hoodie/hoodie.properties + a three-instant
    // commit timeline whose partitionToWriteStats name one base file
    // per (partition, file group). Instant 001 writes batches A∪B per
    // group; instant 002 REWRITES every group's base file with B∪C —
    // the copy-on-write contract — so the snapshot at 002 is B∪C and
    // replay must pick exactly the newest base file per group, never
    // both (instant 003 is the q399 clustering replacecommit; this
    // query pins asOf 002). Timeline replay is bounded plan-time JSON;
    // data reads stay native parquet scans.
    "q394_hudi_cow_read" -> { (s, dir) =>
      deltaCensus(graft.sources.HudiCowLite
        .read(s, authorHudiTable(s, dir), asOfInstant = Some("002")))
    },

    // Latest snapshot crosses instant 003, a REPLACECOMMIT
    // (clustering/insert-overwrite): every g-group is replaced by a
    // c-group holding B∪C∪D. Replay must drop the replaced generation
    // and read only the replacement — keeping both would double-count
    // B∪C and hash-mismatch the oracle.
    "q399_hudi_clustering" -> { (s, dir) =>
      deltaCensus(
        graft.sources.HudiCowLite.read(s, authorHudiTable(s, dir)))
    },

    // Same table at instant 001 (pre-rewrite): A∪B — proving timeline
    // replay stops at the asked instant.
    "q395_hudi_time_travel" -> { (s, dir) =>
      deltaCensus(graft.sources.HudiCowLite
        .read(s, authorHudiTable(s, dir), asOfInstant = Some("001")))
    },

    // Hudi MERGE_ON_READ in the READ-OPTIMIZED query mode (base files
    // only — Hudi's documented freshness contract for RO queries; the
    // reference's provider likewise converts only RO/COW scans,
    // thirdparty/auron-hudi/HudiScanSupport.scala). The authored MOR
    // timeline: deltacommit 001 inserts base parquet per returnflag
    // group (batches A∪B); deltacommit 002 writes LOG files for every
    // group (batch C sits in logs — invisible to RO); commit 003 is a
    // compaction that rewrites ONLY flag N's group merging its log.
    // RO view = A∪B for flags A/R, A∪B∪C for flag N; a reader that
    // peeked at logs (or missed the compaction) hash-mismatches.
    "q409_hudi_mor_ro" -> { (s, dir) =>
      deltaCensus(graft.sources.HudiCowLite
        .read(s, authorHudiMorTable(s, dir), readOptimized = true))
    },

    // Hudi MOR SNAPSHOT read — the query mode the reference's own
    // provider skips (reference-EXCEEDING): a REAL HoodieLogFormat
    // log file (magic/length/version/type/header framing, binary-Avro
    // records) merges over the base file at read time. Upserts double
    // o_totalprice for %10∈(3,4); soft deletes (_hoodie_is_deleted)
    // drop %10=0. The merge is one partial-combining max_by on
    // _hoodie_record_key + anti-join — no window; log decode runs
    // executor-side.
    "q431_hudi_mor_snapshot" -> { (s, dir) =>
      ordersCensus(graft.sources.HudiMorLite
        .read(s, authorHudiMorSnapTable(s, dir)))
    },

    // Hudi MOR HARD DELETES — what a Spark-SQL `DELETE FROM` writes:
    // a version-3 DELETE_BLOCK (binary-Avro HoodieDeleteRecordList)
    // rides the SAME (instant|version|block|record) order stream as
    // the Avro upserts, so the %10=3 keys deleted in log.1 and
    // RE-INSERTED in log.2 survive at ×3 while the %10=0 keys stay
    // dead. Versions 1/2 (Kryo) refuse by version (HudiMorSpec).
    "q434_hudi_mor_hard_delete" -> { (s, dir) =>
      ordersCensus(graft.sources.HudiMorLite
        .read(s, authorHudiMorDeleteTable(s, dir)))
    },

    // PARTITIONED Hudi MOR — the merge keys on (partition path,
    // record key), never the key alone: partitions A and B carry the
    // SAME record keys (Hudi's default non-global index is only
    // per-partition unique), and partition A's log (upsert %10=1 ×2,
    // DELETE_BLOCK %10=2) must leave B's rows untouched. A key-only
    // merge would silently patch/drop B's rows — this census
    // hash-catches exactly that.
    "q435_hudi_mor_partitioned" -> { (s, dir) =>
      val df = graft.sources.HudiMorLite
        .read(s, authorHudiMorPartTable(s, dir))
      df.groupBy(col("_hoodie_partition_path").as("part"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("part"))
    },

    // Hudi MOR ROLLBACK — a failed write's orphaned log block followed
    // by its rollback COMMAND_BLOCK (the most common non-happy-path
    // event in a production Hudi pipeline). The command invalidates
    // exactly the blocks whose INSTANT_TIME header equals its
    // TARGET_INSTANT_TIME, across log-file boundaries: the ×9/×7
    // instant-003 junk must vanish, while the instant-002 block before
    // it and the instant-004 block after it stand. An engine that
    // ignored the rollback (or refused COMMAND_BLOCKs outright) fails
    // this census.
    "q443_hudi_mor_rollback" -> { (s, dir) =>
      ordersCensus(graft.sources.HudiMorLite
        .read(s, authorHudiMorRollbackTable(s, dir)))
    },

    // GraftLake's INCREMENTAL dispatch — q455's MOR commit-range read
    // driven through the one-entry-point UX face (format detection +
    // table-type routing). Same oracle as q455: a dispatch that
    // routed to the COW reader (or mis-detected the format) refuses
    // or hash-mismatches.
    "q457_graft_lake_incremental" -> { (s, dir) =>
      ordersCensus(graft.sources.GraftLake
        .readIncremental(s, authorHudiMorIncTable(s, dir), "001"))
    },

    // GraftLake CHANGES dispatch — one entry point, one vocabulary
    // over three change surfaces: Delta CDF (versions [0,3], the
    // synthesized q464 table), the Iceberg net diff ((1,2], the q463
    // table), and the Paimon changelog ((1,2], the q421 PK table with
    // '+U'/'-D' row kinds mapped to update_postimage/delete). The
    // census keys on (fmt, _change_type, _commit_version), so a wrong
    // vocabulary map, a missed change class, or wrong version
    // attribution hash-mismatches.
    "q465_graft_lake_changes" -> { (s, dir) =>
      def census(fmt: String, df: DataFrame): DataFrame =
        df.groupBy(col("_change_type"), col("_commit_version"))
          .agg(count(lit(1)).as("n"))
          .select(lit(fmt).as("fmt"), col("_change_type"),
            col("_commit_version").cast(LongType).as("_commit_version"),
            col("n"))
      census("delta", graft.sources.GraftLake.readChanges(
        s, authorDeltaCdfSynthTable(s, dir), 0L, 3L))
        .unionByName(census("iceberg", graft.sources.GraftLake
          .readChanges(s, authorIcebergChangesTable(s, dir), 1L, 2L)))
        .unionByName(census("paimon", graft.sources.GraftLake
          .readChanges(s, authorPaimonPkTable(s, dir), 1L, 2L)))
        .orderBy(col("fmt"), col("_change_type"), col("_commit_version"))
    },

    // The same change surface from SQL — the graft_lake_changes TABLE
    // function over the Iceberg net-diff table; version arguments are
    // plan-time literals (bounded-metadata entry point).
    "q466_graft_lake_changes_sql" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      val root = authorIcebergChangesTable(s, dir)
      s.sql(
        s"""SELECT _change_type, count(*) AS n,
           | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           |   AS sum_qty
           |FROM graft_lake_changes('$root', 1, 2)
           |GROUP BY _change_type
           |ORDER BY _change_type""".stripMargin)
    },

    // Hudi MOR INCREMENTAL — the merged value of every key whose last
    // change landed in (001, 003]: key 3 at ×5 (winner@003 over the
    // @002 ×2), key 4 at ×2, the new g2 inserts; the soft-deleted
    // %10=0 keys and the ct=001 rows stay invisible. Completes the
    // query-type matrix (snapshot/read-optimized/incremental × COW/
    // MOR).
    "q455_hudi_mor_incremental" -> { (s, dir) =>
      ordersCensus(graft.sources.HudiMorLite
        .readIncremental(s, authorHudiMorIncTable(s, dir), "001"))
    },

    // Hudi MOR INCREMENTAL × PRECOMBINE: range membership is by the
    // key's last ARRIVAL, the value by the EVENT-TIME merge. Over
    // (002, 003]: keys %10∈(3,4) are selected by log.2's late ×5 at
    // o_seq=20 but surface log.1's ×2 (o_seq=30 wins); %10=1 takes ×4
    // (o_seq 25 > base 10); %10=2's ×9 at o_seq=5 LOSES to the base —
    // the stored row surfaces; %10=0's winning delete stays invisible;
    // g2's ct=003 inserts ride the untouched side.
    "q459_hudi_mor_pc_incremental" -> { (s, dir) =>
      ordersCensus(graft.sources.HudiMorLite
        .readIncremental(s, authorHudiMorPcIncTable(s, dir), "002"))
    },

    // Hudi INCREMENTAL query (hoodie.datasource.query.type=
    // incremental): exactly the rows WRITTEN in (001, 002] — batch A's
    // l_quantity>30 upserts at ×2 price (the rest of the REWRITTEN
    // file is filtered out by _hoodie_commit_time) plus batch B.
    // Untouched file groups are pruned from the scan up front
    // (HudiSpec plan-asserts it).
    "q450_hudi_incremental" -> { (s, dir) =>
      deltaCensus(graft.sources.HudiCowLite
        .readIncremental(s, authorHudiIncrementalTable(s, dir), "001"))
    },

    // Hudi CDC read (hoodie.datasource.query.incremental.format=cdc,
    // op-inference variant): commit 002 rewrites file group gA —
    // the record-key diff of the two file versions emits deletes
    // (%10=0, before image), update pre+post images (%10∈(3,4), ×2
    // price), and stays SILENT on the carried %10∈(1,2) rows — while
    // the new group gB arrives as inserts without a join. A reader
    // emitting whole-file churn, or applying the op to the wrong
    // image, hash-mismatches.
    "q469_hudi_cdc" -> { (s, dir) =>
      graft.sources.HudiCowLite
        .readChanges(s, authorHudiCdcTable(s, dir), "001")
        .groupBy(col("_change_type"), col("_commit_time"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_change_type"), col("_commit_time"))
    },

    // the COMPACTION dispatch: all four formats' tables packed
    // through ONE entry point, then read back through the same — a
    // wrong dispatch (or a rewrite that churns content) shifts a
    // format's census and hash-mismatches. Reuses the four dedicated
    // fixtures; each format's own surface invariants are pinned by
    // q471-q474.
    "q475_graft_lake_compact" -> { (s, dir) =>
      import graft.sources.GraftLake
      val tables = Seq(
        "delta" -> authorDeltaCompactTable(s, dir),
        "iceberg" -> authorIcebergCompactTable(s, dir),
        "hudi" -> authorHudiClusterTable(s, dir),
        "paimon" -> authorPaimonCompactTable(s, dir))
      tables.map { case (fmt, root) =>
        GraftLake.compact(s, root): Unit
        GraftLake.read(s, root)
          .agg(count(lit(1)).as("n"))
          .select(lit(fmt).as("fmt"), col("n"))
      }.reduce(_ unionByName _).orderBy(col("fmt"))
    },

    // EXPIRE-SNAPSHOTS after a compaction — the standard maintenance
    // pair: the rewrite makes the old snapshot's files orphans, the
    // expiry drops the snapshot and deletes them. The census reads
    // the surviving snapshot plus the snapshots metadata table (must
    // be exactly ONE row left); a reader that kept serving the
    // expired snapshot, or an expiry that deleted a still-referenced
    // file, breaks one of the two surfaces.
    "q476_iceberg_expire" -> { (s, dir) =>
      import graft.sources.IcebergLite
      val root = authorIcebergCompactTable(s, dir)
      IcebergLite.compact(s, root): Unit
      val expired = IcebergLite.expireSnapshots(s, root, keepLast = 1)
      require(expired == Seq(1L), s"expected to expire 1, got $expired")
      IcebergLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
        .unionByName(IcebergLite.metadataTable(s, root, "snapshots")
          .agg(count(lit(1)).as("n"))
          .select(lit("meta").as("surface"), lit("snapshots").as("k"),
            col("n"), lit(null).cast(DoubleType).as("sum_qty")))
        .orderBy(col("surface"), col("k"))
    },

    // MOR CLUSTERING — the compaction a MERGE_ON_READ table lives on:
    // the snapshot view's merged rows (upserts at ×2, %10=0 deletes
    // dropped) materialize into a fresh base group under one
    // replacecommit. The census reads BOTH query modes after it:
    // snapshot (unchanged by the move) and READ-OPTIMIZED — which
    // before clustering served the raw base and now MUST equal the
    // merged rows, the operational point of compacting.
    "q480_hudi_mor_cluster" -> { (s, dir) =>
      import graft.sources.{HudiCowLite, HudiMorLite}
      val root = authorHudiMorSnapTableAt(s, dir,
        s"/tmp/graft_hudi/morcluster_${Integer.toHexString(dir.hashCode)}")
      HudiMorLite.cluster(s, root): Unit
      def census(surface: String, df: DataFrame): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"), col("o_orderstatus"),
            col("n"), col("sum_price"))
      census("snapshot", HudiMorLite.read(s, root))
        .unionByName(census("ro",
          HudiCowLite.read(s, root, readOptimized = true)))
        .orderBy(col("surface"), col("o_orderstatus"))
    },

    // Hudi CLUSTERING (replacecommit): pack both file groups into one
    // new group; rows keep their original _hoodie_commit_time, so the
    // census reads TWO surfaces — the post-cluster snapshot (A with
    // ×2 price on q>30 plus B, unchanged by the move) and the
    // incremental query ACROSS the replacecommit (the hasReplace
    // widened-scan path: exactly the ct=002 rows — A's upserts at ×2
    // plus B — proving the filter still prunes rows the clustering
    // rewrote but did not change).
    "q473_hudi_cluster" -> { (s, dir) =>
      val root = authorHudiClusterTable(s, dir)
      graft.sources.HudiCowLite.cluster(s, root): Unit
      def census(surface: String, df: DataFrame): DataFrame =
        df.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"), col("l_returnflag"),
            col("n"), col("sum_price"))
      census("read", graft.sources.HudiCowLite.read(s, root))
        .unionByName(census("incremental", graft.sources.HudiCowLite
          .readIncremental(s, root, "001")))
        .orderBy(col("surface"), col("l_returnflag"))
    },

    // Paimon EXPIRE-SNAPSHOTS after compaction: both pre-compaction
    // snapshots expire (their files deleted as orphans), the COMPACT
    // snapshot survives alone — census + the snapshots system table
    // count pin both surfaces.
    "q477_paimon_expire" -> { (s, dir) =>
      import graft.sources.PaimonLite
      val root = authorPaimonCompactTable(s, dir)
      PaimonLite.compact(s, root): Unit
      val expired = PaimonLite.expireSnapshots(s, root, keepLast = 1)
      require(expired == Seq(1L, 2L),
        s"expected to expire 1,2, got $expired")
      PaimonLite.read(s, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .select(lit("read").as("surface"),
          col("o_orderstatus").as("k"), col("n"), col("sum_price"))
        .unionByName(PaimonLite.metadataTable(s, root, "snapshots")
          .agg(count(lit(1)).as("n"))
          .select(lit("meta").as("surface"), lit("snapshots").as("k"),
            col("n"), lit(null).cast(DoubleType).as("sum_price")))
        .orderBy(col("surface"), col("k"))
    },

    // Paimon FULL COMPACTION (commitKind=COMPACT): pack the two
    // append-only batches into one file under a compaction snapshot;
    // the census reads the post-compaction snapshot AND time travel
    // to the pre-compaction one — identical rows prove the rewrite
    // changed layout, not content, and history stays readable.
    "q474_paimon_compact" -> { (s, dir) =>
      val root = authorPaimonCompactTable(s, dir)
      val newId = graft.sources.PaimonLite.compact(s, root)
      def census(surface: String, df: DataFrame): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"), col("o_orderstatus"),
            col("n"), col("sum_price"))
      census("compacted", graft.sources.PaimonLite.read(s, root))
        .unionByName(census("travel", graft.sources.PaimonLite
          .read(s, root, snapshotId = Some(newId - 1))))
        .orderBy(col("surface"), col("o_orderstatus"))
    },

    // Hudi MOR PARQUET log blocks (hoodie.logfile.data.block.format=
    // parquet — the recommended Spark-writer setting): q431's upsert/
    // soft-delete algebra, but the log block's content is a complete
    // parquet file decoded executor-side through parquet-hadoop over
    // the block bytes. Same oracle as q431 — a reader that mis-parsed
    // the embedded parquet hash-mismatches.
    "q448_hudi_mor_parquet_block" -> { (s, dir) =>
      ordersCensus(graft.sources.HudiMorLite
        .read(s, authorHudiMorParquetTable(s, dir)))
    },

    // Hudi MOR EVENT-TIME merge (hoodie.table.precombine.field — the
    // default CDC shape): merge order is (o_seq, arrival), so log.2's
    // late-arriving ×5 at o_seq=20 loses to log.1's ×2 at o_seq=30,
    // its ×4 at o_seq=25 beats the base's 10, and its ×9 at o_seq=5
    // loses to the BASE row — an arrival-ordered merge (or one that
    // skipped the base-vs-log comparison) hash-mismatches.
    "q444_hudi_mor_precombine" -> { (s, dir) =>
      ordersCensus(graft.sources.HudiMorLite
        .read(s, authorHudiMorPrecombineTable(s, dir)))
    },

    // Apache Paimon table read — the FOURTH lakehouse leg (reference
    // thirdparty/auron-paimon). The query authors a Paimon-layout
    // append-only table: snapshot/snapshot-<id> JSON + LATEST hint,
    // schema/schema-0, Avro manifest lists and manifests under
    // manifest/, data under bucket-0/. Snapshot 1's delta adds batches
    // A∪B; snapshot 2's base re-lists A∪B while its delta DELETEs A
    // and ADDs C — replay must net the two lists to B∪C. Replay is
    // bounded plan-time Avro read on the driver (MetaAvro, no Spark
    // job); data reads stay native parquet scans.
    "q397_paimon_read" -> { (s, dir) =>
      deltaCensus(
        graft.sources.PaimonLite.read(s, authorPaimonTable(s, dir)))
    },

    // Iceberg INCREMENTAL APPEND read (the format's documented
    // start-snapshot-id/end-snapshot-id surface): snapshots 1..3 each
    // append one batch; the (1, 3] range serves exactly batches B∪C —
    // one native scan of the file-set difference, with loud failure
    // if the range dropped files or carries deletes.
    "q422_iceberg_incremental" -> { (s, dir) =>
      val root = authorIcebergStreamTable(s, dir, upTo = 3)
      deltaCensus(graft.sources.IcebergLite
        .readIncremental(s, root, fromSnapshotId = 1L, toSnapshotId = 3L))
    },

    // Iceberg incremental BEYOND append-only — the NET row-level diff
    // of a range whose commits append a data file AND add delete
    // surface (a GROWN deletion vector on an old file, a DV on the
    // new file, an equality delete). Inserts = the new file's rows
    // live at `to` (its own DV applied); deletes = old-file rows live
    // at `from` but dead at `to`: the DV's growth by position, then
    // the equality delete over the positional survivors (seq-gated —
    // the new file's rows are NOT matched, its seq isn't below the
    // delete's). A reader that emitted whole-file churn for the DV
    // rewrite, applied the eq delete to the new file, or double-
    // counted a row dead by both legs hash-mismatches here.
    "q463_iceberg_changes" -> { (s, dir) =>
      val root = authorIcebergChangesTable(s, dir)
      graft.sources.IcebergLite.readChanges(s, root, 1L, 2L)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_change_type"))
    },

    // Iceberg timestamp travel: 1500ms lands between snapshot 1
    // (timestamp-ms 1000) and snapshot 2 (2000) — resolves to the
    // pre-delete snapshot 1, same result as q392's id-based travel
    // but through the format's OTHER public time-travel axis.
    "q415_iceberg_ts_travel" -> { (s, dir) =>
      deltaCensus(graft.sources.IcebergLite
        .read(s, authorIcebergTable(s, dir), asOfTimestampMs = Some(1500L)))
    },

    // Same table pinned to snapshot 1 (pre-delete): A∪B — proving
    // snapshot selection beats the LATEST hint.
    "q398_paimon_snapshot" -> { (s, dir) =>
      deltaCensus(graft.sources.PaimonLite
        .read(s, authorPaimonTable(s, dir), snapshotId = Some(1L)))
    },

    // Paimon timestamp travel: 1500ms lands between snapshot 1
    // (timeMillis 1000) and snapshot 2 (2000) — Paimon's own commit
    // stamp resolves to the pre-delete snapshot, the same A∪B census
    // as q398's id-based travel.
    "q423_paimon_ts_travel" -> { (s, dir) =>
      deltaCensus(graft.sources.PaimonLite.read(
        s, authorPaimonTable(s, dir), asOfTimestampMs = Some(1500L)))
    },

    // Paimon PRIMARY-KEY table (deduplicate merge engine) — the LSM
    // side of the format. The authored table stores KeyValue rows
    // (_KEY_o_orderkey, _SEQUENCE_NUMBER, _VALUE_KIND, value columns):
    // snapshot 1 inserts every orders row with o_orderkey%10 < 5 at
    // sequence 1; snapshot 2 adds a second file at sequence 2 that
    // UPDATEs (+U) the %10∈{3,4} keys to doubled o_totalprice and
    // DELETEs (-D) the %10=0 keys. The merged read — latest sequence
    // per key wins, a winning delete drops the key — is expressed as
    // ONE key-partitioned window (row_number over sequence desc), so
    // the LSM merge is a single keyed shuffle at any scale. Oracle
    // recomputes the upsert algebra from the source table.
    "q407_paimon_pk_read" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonPkTable(s, dir)))
    },

    // Same PK table pinned to snapshot 1: the pre-upsert state — all
    // inserts at their original o_totalprice, %10=0 keys still alive.
    "q408_paimon_pk_snapshot" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonPkTable(s, dir), snapshotId = Some(1L)))
    },

    // Paimon DELETION VECTORS — deletion-vectors.enabled PK table:
    // the snapshot's index manifest locates each data file's bitmap
    // blob inside index/<file>, decoded executor-side and anti-joined
    // on (file, row ordinal) BEFORE the LSM merge. Keys %10∈(0,1) die
    // by DV alone (no -D row exists anywhere); %10∈(3,4) keep their
    // seq-2 upserts (the DV also kills the superseded %10=3 base rows
    // — merge and DV must agree). O(deleted rows) never on the driver.
    "q458_paimon_dv" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonDvTable(s, dir)))
    },

    // Paimon FULL-COMPACTION changelog — the producer keeps no
    // per-commit input files; its changelog is the merge diff of
    // consecutive snapshots (one null-safe full-outer join of the two
    // already-merged reads on the primary key): %10∈(3,4) emit
    // -U(×1)/+U(×2) pairs, %10=0 emits -D, unchanged keys are silent.
    "q462_paimon_fc_changelog" -> { (s, dir) =>
      graft.sources.PaimonLite
        .readChangelog(s, authorPaimonFcTable(s, dir), 2L)
        .groupBy(col("_row_kind"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_row_kind"), col("o_orderstatus"))
    },

    // Paimon TAG time travel — tag/tag-<name> files hold a full copy
    // of the pinned snapshot JSON (the expiry-proof travel axis; the
    // Iceberg analog is q432's refs). 'prewipe' pins snapshot 1, so
    // the census equals q398's explicit-id read.
    "q433_paimon_tag" -> { (s, dir) =>
      deltaCensus(graft.sources.PaimonLite
        .read(s, authorPaimonTable(s, dir), tag = Some("prewipe")))
    },

    // Paimon SYSTEM TABLES — the snapshots/tags query surface
    // (table$snapshots / table$tags in the library): snapshots
    // left-join tags so one census pins ids, commit kinds, the
    // timestamp axis AND the tag→snapshot pinning.
    "q454_paimon_system_tables" -> { (s, dir) =>
      val root = authorPaimonTable(s, dir)
      val snaps = graft.sources.PaimonLite
        .metadataTable(s, root, "snapshots")
      val tags = graft.sources.PaimonLite
        .metadataTable(s, root, "tags")
      snaps.join(tags, Seq("snapshot_id"), "left")
        .select(col("snapshot_id"), col("commit_kind"),
          col("time_millis"), col("tag_name"))
        .orderBy(col("snapshot_id"))
    },

    // Iceberg METADATA TABLES — the snapshots/refs query surface
    // (table$snapshots / table$refs in the library): joined here so
    // one census pins ref→snapshot resolution AND the timestamp axis
    // the time-travel reads rely on.
    "q453_iceberg_metadata_tables" -> { (s, dir) =>
      val root = authorIcebergTable(s, dir)
      val snaps = graft.sources.IcebergLite
        .metadataTable(s, root, "snapshots")
      val refs = graft.sources.IcebergLite
        .metadataTable(s, root, "refs")
      refs.join(snaps, "snapshot_id")
        .select(col("name"), col("type"), col("snapshot_id"),
          col("timestamp_ms"))
        .orderBy(col("name"))
    },

    // Iceberg FILES metadata table — one row per LIVE data file of
    // the current snapshot, projected from the data-manifest replay:
    // file_format / record_count / file_size_in_bytes / identity
    // partition (canonical JSON). The oracle recomputes each file's
    // record_count from lineitem — a replay that dropped a file,
    // resurrected a tombstone or mis-read a stat hash-mismatches.
    "q460_iceberg_files_table" -> { (s, dir) =>
      graft.sources.IcebergLite
        .metadataTable(s, authorIcebergStatsTable(s, dir), "files")
        .select(regexp_extract(col("file_path"), "([^/]+)$", 1)
          .as("file_name"),
          col("file_format"), col("record_count"),
          (col("file_size_in_bytes") > 0).as("size_known"),
          col("partition").as("part"))
        .orderBy(col("file_name"))
    },

    // Iceberg PARTITIONS metadata table — the files rows grouped by
    // partition: m=0 aggregates two files, m=1 one.
    "q461_iceberg_partitions_table" -> { (s, dir) =>
      graft.sources.IcebergLite
        .metadataTable(s, authorIcebergStatsTable(s, dir), "partitions")
        .select(col("partition").as("part"), col("record_count"),
          col("file_count"))
        .orderBy(col("part"))
    },

    // SQL TABLE-FUNCTION surface: the same tag-travelled Paimon read
    // as q433, but driven ENTIRELY from SQL — graft_lake('<root>',
    // 'prewipe') resolves through GraftLake's layout detection and
    // returns the native plan (GraftLakeSpec plan-asserts FileScan).
    // A TVF that dropped the ref or re-planned through an RDD shim
    // hash-mismatches or regresses the plan golden machinery.
    "q452_graft_lake_sql" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      val root = authorPaimonTable(s, dir)
      s.sql(
        s"""SELECT l_returnflag, count(*) AS n,
           | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           |   AS sum_qty,
           | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           |   AS sum_price
           |FROM graft_lake('$root', 'prewipe')
           |GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin)
    },

    // PARTITIONED Paimon append-only table — partition values decode
    // from each manifest entry's _PARTITION BinaryRow (null bits +
    // 8-byte slots + var part, the published layout) and attach as
    // typed literal columns per partition group; data files carry only
    // the non-partition columns. The census groups BY the partition
    // column, so wrong decode or wrong attachment hash-mismatches.
    "q426_paimon_partitioned" -> { (s, dir) =>
      deltaCensus(graft.sources.PaimonLite
        .read(s, authorPaimonPartTable(s, dir)))
    },

    // PARTITIONED Paimon PRIMARY-KEY table — the stored KeyValue key
    // is the TRIMMED key (pk minus partition keys), so the merge
    // groups on (_KEY_o_orderkey, o_orderstatus): per-partition
    // dedup, still one partial-combining max_by aggregate with one
    // keyed shuffle. Same upsert algebra as q407, per partition.
    "q427_paimon_partitioned_pk" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonPartPkTable(s, dir)))
    },

    // Paimon CHANGELOG read — the Delta-CDF analog for this leg.
    // Snapshot 2's changelog (changelog-producer=input) materializes
    // the upsert commit's raw input rows; the census groups them by
    // _row_kind: +U = the doubled-price updates, -D = the deletes.
    "q421_paimon_changelog" -> { (s, dir) =>
      graft.sources.PaimonLite
        .readChangelog(s, authorPaimonPkTable(s, dir), 2L)
        .groupBy(col("_row_kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_row_kind"))
    },

    // PARTITIONED Paimon changelog — each changelog manifest entry's
    // _PARTITION BinaryRow decodes and the partition column attaches
    // exactly like the batch path, so the census can group BY the
    // partition column alongside _row_kind. The upsert commit's
    // changelog per partition: +U doubled updates, -D deletes.
    "q437_paimon_part_changelog" -> { (s, dir) =>
      graft.sources.PaimonLite
        .readChangelog(s, authorPaimonPartPkTable(s, dir), 2L)
        .groupBy(col("o_orderstatus"), col("_row_kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("o_orderstatus"), col("_row_kind"))
    },

    // Paimon PARTIAL-UPDATE merge engine — per column the latest
    // NON-NULL value wins. Snapshot 2's +U rows (keys %10∈(3,4))
    // carry NULL price and NULL status, so the seq-1 values must
    // survive: an engine that let nulls overwrite (plain last-row)
    // would zero out those keys and hash-mismatch.
    "q440_paimon_partial_update" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonEngineTable(s, dir, "partial-update")))
    },

    // Paimon AGGREGATION merge engine — o_totalprice declares
    // aggregate-function=sum, so the second +I for keys %10∈(3,4)
    // doubles their price; o_orderstatus is undeclared → defaults to
    // last_non_null_value, so the second batch's NULL status must NOT
    // erase the first (erasure moves rows to the NULL status group).
    "q441_paimon_aggregation" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonEngineTable(s, dir, "aggregation")))
    },

    // Paimon FIRST-ROW merge engine — the FIRST row per key wins.
    // Snapshot 2 re-inserts keys %10∈(3,4) at ×2 price; those later
    // duplicates must LOSE (a deduplicate/last-wins engine would keep
    // the doubled prices and hash-mismatch).
    "q442_paimon_first_row" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonEngineTable(s, dir, "first-row")))
    },

    // Paimon AGGREGATION functions beyond sum/min/max — count (NULL
    // inputs don't count), last_value (a later NULL OVERWRITES, unlike
    // the default last_non_null), bool_and, listagg ('|' delimiter,
    // merge order). One single-row census folds all four so any
    // mis-fold hash-mismatches.
    "q449_paimon_agg_functions" -> { (s, dir) =>
      graft.sources.PaimonLite
        .read(s, authorPaimonAggXTable(s, dir))
        .agg(count(lit(1)).as("n"),
          sum(col("o_cnt")).as("sum_cnt"),
          sum(col("o_last").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_last"),
          sum(when(col("o_ba"), 1L).otherwise(0L)).as("n_ba"),
          sum(length(col("o_tag")).cast("long")).as("tag_len"))
    },

    // Paimon SEQUENCE GROUPS (partial-update): o_totalprice updates
    // only when ITS sequence column o_psq advances — snapshot 2's
    // o_psq=20 doubles (3,4); snapshot 3's o_psq=5 must NOT apply its
    // ×9 to (2,3) even though its global sequence is the highest.
    // o_orderstatus stays plain last-non-null (snapshot 2/3 nulls
    // must not erase it).
    "q445_paimon_sequence_group" -> { (s, dir) =>
      ordersCensus(graft.sources.PaimonLite
        .read(s, authorPaimonSeqGroupTable(s, dir)))
    },

    // STREAMING Delta-log read — DeltaStreamLite (v1 Source: offsets
    // are log versions, each micro-batch the files added in a version
    // range). The query authors an append-only Delta table commit by
    // commit WHILE a stream with maxVersionsPerTrigger=1 is draining
    // into a complete-mode census: batch 0 = the initial snapshot
    // (batch A), then one micro-batch per appended commit (B, then C).
    // The final state equals the batch census of A∪B∪C, which the
    // oracle recomputes from the source — a source that dropped or
    // double-read a commit hash-mismatches. Per-batch work is O(new
    // files): bounded JSON replay + native parquet scan of exactly the
    // new files.
    "q400_delta_stream" -> { (s, dir) =>
      val root = authorDeltaStreamTable(s, dir, upTo = 0)
      s.catalog.dropTempView("q400_sink"): Unit
      val stream = s.readStream
        .format("org.apache.spark.sql.graftstream.DeltaStreamLite")
        .option("path", root)
        .option("maxVersionsPerTrigger", "1")
        .load()
      val agg = stream.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q400_sink").start()
      try {
        q.processAllAvailable()
        appendDeltaStreamCommit(s, dir, root, 1)
        q.processAllAvailable()
        appendDeltaStreamCommit(s, dir, root, 2)
        q.processAllAvailable()
      } finally q.stop()
      s.table("q400_sink").orderBy(col("l_returnflag"))
    },

    // STREAMING Delta CHANGE FEED — DeltaStreamLite with
    // readChangeFeed=true: the first batch is the observed snapshot as
    // 'insert' rows at its version, each later batch is readChanges
    // over (start, end]. The query appends a blind-append commit
    // (synthesized inserts at v1) and then a cdc-less REMOVE commit
    // (synthesized deletes of the removed file's content at v2) while
    // draining, one version per trigger. The census keys on
    // (_change_type, _commit_version) — a source that replayed the
    // snapshot per batch, dropped the delete batch, or mis-attributed
    // versions hash-mismatches.
    "q467_delta_cdf_stream" -> { (s, dir) =>
      val root = authorDeltaStreamTable(s, dir, upTo = 0, cdf = true)
      s.catalog.dropTempView("q467_sink"): Unit
      val stream = s.readStream
        .format("org.apache.spark.sql.graftstream.DeltaStreamLite")
        .option("path", root)
        .option("maxVersionsPerTrigger", "1")
        .option("readChangeFeed", "true")
        .load()
      val agg = stream
        .groupBy(col("_change_type"), col("_commit_version"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q467_sink").start()
      try {
        q.processAllAvailable()
        appendDeltaStreamCommit(s, dir, root, 1, cdf = true)
        q.processAllAvailable()
        graft.sources.AtomicFiles.write(
          java.nio.file.Paths.get(root, "_delta_log", f"${2}%020d.json"),
          """{"remove":{"path":"data/b1.parquet","deletionTimestamp":0,"dataChange":true}}""" + "\n")
        q.processAllAvailable()
      } finally q.stop()
      s.table("q467_sink")
        .orderBy(col("_change_type"), col("_commit_version"))
    },

    // STREAMING Paimon CHANGELOG — PaimonStreamLite with
    // readChangelog=true (the mode that SERVES the primary-key tables
    // the append stream refuses): the first batch is snapshot 1's
    // merged read as '+I', then snapshot 2 is published mid-stream and
    // its input changelog arrives as one batch ('+U' ×2-priced upserts
    // for %10∈(3,4), '-D' deletes for %10=0). The census keys on
    // (_row_kind, _snapshot_id).
    "q468_paimon_changelog_stream" -> { (s, dir) =>
      val root = authorPaimonClStreamTable(s, dir)
      s.catalog.dropTempView("q468_sink"): Unit
      val stream = s.readStream
        .format("org.apache.spark.sql.graftstream.PaimonStreamLite")
        .option("path", root)
        .option("maxSnapshotsPerTrigger", "1")
        .option("readChangelog", "true")
        .load()
      val agg = stream.groupBy(col("_row_kind"), col("_snapshot_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q468_sink").start()
      try {
        q.processAllAvailable()
        appendPaimonClSnapshot(root)
        q.processAllAvailable()
      } finally q.stop()
      s.table("q468_sink").orderBy(col("_row_kind"), col("_snapshot_id"))
    },

    // STREAMING through the ONE entry point — GraftLake.readStream
    // detects the layout (Delta here) and dispatches to its
    // graftstream source with options passed through verbatim
    // (readChangeFeed reaches DeltaStreamLite). Same drain
    // choreography as q467; the census keys on _change_type alone, so
    // a dispatch to the wrong source or dropped options
    // hash-mismatches.
    "q470_graft_lake_stream" -> { (s, dir) =>
      val root = authorDeltaStreamTable(s, dir, upTo = 0, cdf = true)
      s.catalog.dropTempView("q470_sink"): Unit
      val stream = graft.sources.GraftLake.readStream(s, root,
        Map("readChangeFeed" -> "true", "maxVersionsPerTrigger" -> "1"))
      val agg = stream.groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q470_sink").start()
      try {
        q.processAllAvailable()
        appendDeltaStreamCommit(s, dir, root, 1, cdf = true)
        q.processAllAvailable()
        graft.sources.AtomicFiles.write(
          java.nio.file.Paths.get(root, "_delta_log", f"${2}%020d.json"),
          """{"remove":{"path":"data/b1.parquet","deletionTimestamp":0,"dataChange":true}}""" + "\n")
        q.processAllAvailable()
      } finally q.stop()
      s.table("q470_sink").orderBy(col("_change_type"))
    },

    // STREAMING Iceberg read — IcebergStreamLite (v1 Source: offsets
    // are POSITIONS in the metadata's snapshots list; each micro-batch
    // is the file-set DIFFERENCE between consecutive snapshots, with
    // loud failure if a snapshot drops files or carries deletes). The
    // query appends snapshots while draining, one snapshot per batch:
    // initial = batch A, then B, then C — final census = A∪B∪C,
    // recomputed by the oracle. Per-batch work is bounded manifest
    // replay + a native parquet scan of exactly the new files.
    "q401_iceberg_stream" -> { (s, dir) =>
      val root = authorIcebergStreamTable(s, dir, upTo = 1)
      s.catalog.dropTempView("q401_sink"): Unit
      val stream = s.readStream
        .format("org.apache.spark.sql.graftstream.IcebergStreamLite")
        .option("path", root)
        .option("maxSnapshotsPerTrigger", "1")
        .load()
      val agg = stream.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q401_sink").start()
      try {
        q.processAllAvailable()
        appendIcebergSnapshot(s, dir, root, 2)
        q.processAllAvailable()
        appendIcebergSnapshot(s, dir, root, 3)
        q.processAllAvailable()
      } finally q.stop()
      s.table("q401_sink").orderBy(col("l_returnflag"))
    },

    // STREAMING Paimon read — PaimonStreamLite (v1 Source). Paimon is
    // the natural streaming format of the three: snapshot ids are
    // contiguous longs (the offsets) and each snapshot's DELTA
    // manifest list IS the per-commit change set, so incremental
    // batches replay just the consumed deltas — no snapshot diffing.
    // Same drain shape as q400/q401: initial = batch A, then B, then
    // C; final census = A∪B∪C vs the oracle.
    "q402_paimon_stream" -> { (s, dir) =>
      val root = authorPaimonStreamTable(s, dir, upTo = 1)
      s.catalog.dropTempView("q402_sink"): Unit
      val stream = s.readStream
        .format("org.apache.spark.sql.graftstream.PaimonStreamLite")
        .option("path", root)
        .option("maxSnapshotsPerTrigger", "1")
        .load()
      val agg = stream.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q402_sink").start()
      try {
        q.processAllAvailable()
        appendPaimonSnapshot(s, dir, root, 2)
        q.processAllAvailable()
        appendPaimonSnapshot(s, dir, root, 3)
        q.processAllAvailable()
      } finally q.stop()
      s.table("q402_sink").orderBy(col("l_returnflag"))
    },

    // STREAMING over a PARTITIONED Paimon table — the census groups
    // BY THE PARTITION COLUMN, which never sits in the data files:
    // every value comes from the per-batch _PARTITION BinaryRow
    // decode (initial snapshot AND incremental deltas), so a wrong
    // decode or a dropped attachment hash-mismatches.
    "q438_paimon_part_stream" -> { (s, dir) =>
      val root = authorPaimonPartStreamTable(s, dir, upTo = 1)
      s.catalog.dropTempView("q438_sink"): Unit
      val stream = s.readStream
        .format("org.apache.spark.sql.graftstream.PaimonStreamLite")
        .option("path", root)
        .option("maxSnapshotsPerTrigger", "1")
        .load()
      val agg = stream.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q438_sink").start()
      try {
        q.processAllAvailable()
        appendPaimonPartSnapshot(s, dir, root, 2)
        q.processAllAvailable()
        appendPaimonPartSnapshot(s, dir, root, 3)
        q.processAllAvailable()
      } finally q.stop()
      s.table("q438_sink").orderBy(col("l_returnflag"))
    },

    // STREAMING lakehouse ETL LOOP — DeltaStreamLite source →
    // DeltaStreamSinkLite sink → DeltaLogLite batch read. Each source
    // commit becomes one sink micro-batch and ONE sink commit (add
    // actions + a txn action carrying the query id and batch id — the
    // exactly-once dedup surface). The destination table's census must
    // equal the source batches A∪B∪C: a dropped, duplicated, or
    // re-committed batch hash-mismatches the oracle.
    "q403_delta_stream_sink" -> { (s, dir) =>
      val src = authorDeltaStreamTable(s, dir, upTo = 0)
      val dest = src + "_sinkdest"
      rm(new java.io.File(dest))
      val q = s.readStream
        .format("org.apache.spark.sql.graftstream.DeltaStreamLite")
        .option("path", src)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .format("org.apache.spark.sql.graftstream.DeltaStreamSinkLite")
        .option("path", dest)
        .option("checkpointLocation", s"$dest/_ckpt")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendDeltaStreamCommit(s, dir, src, 1)
        q.processAllAvailable()
        appendDeltaStreamCommit(s, dir, src, 2)
        q.processAllAvailable()
      } finally q.stop()
      deltaCensus(graft.sources.DeltaLogLite.read(s, dest))
    },

    // The same ETL loop on Paimon — PaimonStreamLite source →
    // PaimonStreamSinkLite sink → PaimonLite batch read. Each source
    // snapshot becomes one sink snapshot carrying Paimon's OWN
    // exactly-once surface (commitUser = query id, commitIdentifier =
    // batch id); the destination census must equal batches A∪B∪C.
    "q404_paimon_stream_sink" -> { (s, dir) =>
      val src = authorPaimonStreamTable(s, dir, upTo = 1)
      val dest = src + "_sinkdest"
      rm(new java.io.File(dest))
      val q = s.readStream
        .format("org.apache.spark.sql.graftstream.PaimonStreamLite")
        .option("path", src)
        .option("maxSnapshotsPerTrigger", "1")
        .load()
        .writeStream
        .format("org.apache.spark.sql.graftstream.PaimonStreamSinkLite")
        .option("path", dest)
        .option("checkpointLocation", s"$dest/_ckpt")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendPaimonSnapshot(s, dir, src, 2)
        q.processAllAvailable()
        appendPaimonSnapshot(s, dir, src, 3)
        q.processAllAvailable()
      } finally q.stop()
      deltaCensus(graft.sources.PaimonLite.read(s, dest))
    },

    // The same ETL loop on Iceberg — IcebergStreamLite source →
    // IcebergStreamSinkLite sink → IcebergLite batch read. Each
    // consumed snapshot becomes one sink snapshot whose SUMMARY
    // carries the query id and batch id (the Flink-committer-style
    // exactly-once surface); the destination census must equal
    // batches A∪B∪C.
    "q405_iceberg_stream_sink" -> { (s, dir) =>
      val src = authorIcebergStreamTable(s, dir, upTo = 1)
      val dest = src + "_sinkdest"
      rm(new java.io.File(dest))
      val q = s.readStream
        .format("org.apache.spark.sql.graftstream.IcebergStreamLite")
        .option("path", src)
        .option("maxSnapshotsPerTrigger", "1")
        .load()
        .writeStream
        .format("org.apache.spark.sql.graftstream.IcebergStreamSinkLite")
        .option("path", dest)
        .option("checkpointLocation", s"$dest/_ckpt")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendIcebergSnapshot(s, dir, src, 2)
        q.processAllAvailable()
        appendIcebergSnapshot(s, dir, src, 3)
        q.processAllAvailable()
      } finally q.stop()
      deltaCensus(graft.sources.IcebergLite.read(s, dest))
    },

    // STREAMING Hudi read — HudiStreamLite (v1 Source: offsets are
    // COMMIT INSTANTS located by value; each micro-batch the base-file
    // SET DIFFERENCE between consecutive instants, with loud failure
    // if a commit drops files — an update/clustering/clean mid-stream).
    // The query appends commits while draining, one per batch:
    // initial = batch A, then B, then C — final census = A∪B∪C,
    // recomputed by the oracle. This closes the FOUR-format streaming
    // source matrix (Delta q400, Iceberg q401, Paimon q402).
    "q412_hudi_stream" -> { (s, dir) =>
      val root = authorHudiStreamTable(s, dir, upTo = 0)
      s.catalog.dropTempView("q412_sink"): Unit
      val stream = s.readStream
        .format("org.apache.spark.sql.graftstream.HudiStreamLite")
        .option("path", root)
        .option("maxCommitsPerTrigger", "1")
        .load()
      val agg = stream.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("q412_sink").start()
      try {
        q.processAllAvailable()
        appendHudiStreamCommit(s, dir, root, 1)
        q.processAllAvailable()
        appendHudiStreamCommit(s, dir, root, 2)
        q.processAllAvailable()
      } finally q.stop()
      s.table("q412_sink").orderBy(col("l_returnflag"))
    },

    // The same ETL loop on Hudi — HudiStreamLite source →
    // HudiStreamSinkLite sink → HudiCowLite batch read, closing the
    // FOUR-format sink matrix. Each source commit becomes one sink
    // commit whose extraMetadata carries the exactly-once record
    // (query id + batch id — the surface Hudi Streamer keeps its own
    // checkpoint on); the destination census must equal A∪B∪C.
    "q413_hudi_stream_sink" -> { (s, dir) =>
      val src = authorHudiStreamTable(s, dir, upTo = 0)
      val dest = src + "_sinkdest"
      rm(new java.io.File(dest))
      val q = s.readStream
        .format("org.apache.spark.sql.graftstream.HudiStreamLite")
        .option("path", src)
        .option("maxCommitsPerTrigger", "1")
        .load()
        .writeStream
        .format("org.apache.spark.sql.graftstream.HudiStreamSinkLite")
        .option("path", dest)
        .option("checkpointLocation", s"$dest/_ckpt")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendHudiStreamCommit(s, dir, src, 1)
        q.processAllAvailable()
        appendHudiStreamCommit(s, dir, src, 2)
        q.processAllAvailable()
      } finally q.stop()
      deltaCensus(graft.sources.HudiCowLite.read(s, dest))
    },

    // PARTITIONED Delta OPTIMIZE — per-partition bin-packing from ONE
    // scan: 2 files per l_returnflag partition pack to 1, the read is
    // unchanged, partitionValues re-stamp, and the CDF stays silent
    // across the compaction version. A compactor that crossed
    // partition boundaries, dropped a partition, or churned the CDF
    // breaks a surface and hash-mismatches.
    "q481_delta_compact_part" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      val root = authorDeltaPartCompactTable(s, dir)
      val v = DeltaLogLite.compact(s, root)
      val read = DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val snap = DeltaLogLite.snapshot(s, root)
      val fileRows = snap.files
        .groupBy(_.partitionValues.getOrElse("l_returnflag", ""))
        .toSeq.map { case (f, fs2) => (f, fs2.size.toLong) }
      import s.implicits._
      val files = fileRows.toDF("k", "n")
        .select(lit("files").as("surface"), col("k"), col("n"),
          lit(null).cast(DoubleType).as("sum_qty"))
      val cdf = s.range(1).select(lit("cdf").as("surface"),
        lit("rows").as("k"),
        lit(DeltaLogLite.readChanges(s, root, v, v).count()).as("n"),
        lit(null).cast(DoubleType).as("sum_qty"))
      read.unionByName(files).unionByName(cdf)
        .orderBy(col("surface"), col("k"))
    },

    // PARTITIONED Iceberg rewrite-data-files: per-identity-partition
    // packing with a SPEC-COMPLETE manifest — record_count,
    // file_size_in_bytes and the typed partition struct feed the
    // files/partitions metadata tables, which this census reads
    // alongside the data. Placeholder stats or cross-partition files
    // shift the metadata rows and hash-mismatch.
    "q482_iceberg_compact_part" -> { (s, dir) =>
      import graft.sources.IcebergLite
      val root = authorIcebergPartCompactTable(s, dir)
      IcebergLite.compact(s, root): Unit
      val read = IcebergLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val parts = IcebergLite.metadataTable(s, root, "partitions")
        .select(lit("parts").as("surface"), col("partition").as("k"),
          col("file_count").as("n"),
          col("record_count").cast(DoubleType).as("sum_qty"))
      read.unionByName(parts).orderBy(col("surface"), col("k"))
    },

    // PARTITIONED Paimon full compaction: per-partition packing with
    // BinaryRow-encoded partition values round-tripped through the
    // writer's staging dirs back into the manifest. The census reads
    // the post-compaction table per partition plus the per-partition
    // live file count from the snapshot replay.
    "q483_paimon_compact_part" -> { (s, dir) =>
      import graft.sources.PaimonLite
      val root = authorPaimonPartCompactTable(s, dir)
      PaimonLite.compact(s, root): Unit
      val read = PaimonLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val snap = PaimonLite.snapshot(s, root)
      import s.implicits._
      val files = snap.files.groupBy(_.partition.headOption
          .map(String.valueOf).getOrElse(""))
        .toSeq.map { case (f, fs2) => (f, fs2.size.toLong) }
        .toDF("k", "n")
        .select(lit("files").as("surface"), col("k"), col("n"),
          lit(null).cast(DoubleType).as("sum_qty"))
      read.unionByName(files).orderBy(col("surface"), col("k"))
    },

    // MULTI-PARTITION Hudi clustering: per-partition packing rides
    // the _hoodie_partition_path meta column through one scan; each
    // partition's two file groups replace into one, under one
    // replacecommit listing BOTH partitions. The census reads the
    // post-clustering table per flag plus the per-partition group
    // count from the snapshot.
    "q484_hudi_cluster_part" -> { (s, dir) =>
      import graft.sources.HudiCowLite
      val root = authorHudiPartClusterTable(s, dir)
      HudiCowLite.cluster(s, root): Unit
      val read = HudiCowLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val snap = HudiCowLite.snapshot(s, root)
      import s.implicits._
      val groups = snap.groups.keys.toSeq.groupBy(_._1)
        .toSeq.map { case (p, gs) => (p, gs.size.toLong) }
        .toDF("k", "n")
        .select(lit("groups").as("surface"), col("k"), col("n"),
          lit(null).cast(DoubleType).as("sum_qty"))
      read.unionByName(groups).orderBy(col("surface"), col("k"))
    },

    // Delta VACUUM under a CLASSIC CHECKPOINT — the op long-lived
    // tables need most, exactly where checkpoints live: the
    // checkpoint's remove tombstone (f0) and the surviving JSON's
    // remove (f1) both reclaim; the live file survives. A vacuum
    // that missed the checkpoint tombstones under-deletes; one that
    // reached the live file breaks the read.
    "q485_delta_vacuum_ckpt" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      val root = authorDeltaCkptVacuumTable(s, dir)
      val deleted = DeltaLogLite.vacuum(s, root)
      DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
        .unionByName(s.range(1).select(lit("vacuum").as("surface"),
          lit("deleted").as("k"), lit(deleted.size.toLong).as("n"),
          lit(null).cast(DoubleType).as("sum_qty")))
        .orderBy(col("surface"), col("k"))
    },

    // changelog-producer=LOOKUP — the recommended low-latency
    // producer: the APPEND snapshot's changelog is EMPTY (deferred),
    // the lookup COMPACT snapshot carries the deferred NORMALIZED
    // -U/+U rows. The census unions both snapshots' changelogs by
    // row kind — a reader that refused the append snapshot errors,
    // one that skipped the compact changelog loses every row.
    "q486_paimon_lookup_changelog" -> { (s, dir) =>
      import graft.sources.PaimonLite
      val root = authorPaimonLookupTable(s, dir)
      PaimonLite.readChangelog(s, root, 2L)
        .unionByName(PaimonLite.readChangelog(s, root, 3L))
        .groupBy(col("_row_kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_row_kind"))
    },

    // Iceberg manifests + entries METADATA TABLES over a compacted
    // partitioned table: ONE data manifest whose entry stats are the
    // spec-complete rewrite's record counts. The census joins both
    // tables' aggregates — absent stats (the pre-round boundary) or
    // a miscounted manifest shift a row.
    "q487_iceberg_manifests_meta" -> { (s, dir) =>
      import graft.sources.IcebergLite
      val root = authorIcebergPartCompactTable(s, dir)
      IcebergLite.compact(s, root): Unit
      val manifests = IcebergLite.metadataTable(s, root, "manifests")
        .groupBy(col("content"))
        .agg(count(lit(1)).as("n"),
          sum(col("added_data_files_count")).cast(DoubleType).as("v"))
        .select(lit("manifests").as("surface"),
          col("content").cast(StringType).as("k"), col("n"), col("v"))
      val entries = IcebergLite.metadataTable(s, root, "entries")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("record_count")).cast(DoubleType).as("v"))
        .select(lit("entries").as("surface"),
          col("status").cast(StringType).as("k"), col("n"), col("v"))
      manifests.unionByName(entries).orderBy(col("surface"), col("k"))
    },

    // ONE maintenance vocabulary across the four formats: compact
    // through the dispatcher, then EXPIRE where the format's reclaim
    // axis is snapshot-grain (Iceberg/Paimon) and RECLAIM where it is
    // file-grain (Delta VACUUM / Hudi CLEAN). The census reads every
    // table after its maintenance plus the op's own count — a
    // dispatcher that routed an op to the wrong format surface (or a
    // maintenance op that touched live data) shifts a row.
    "q489_graft_lake_maintenance" -> { (s, dir) =>
      import graft.sources.GraftLake
      val tables = Seq(
        "delta" -> authorDeltaCompactTable(s, dir),
        "iceberg" -> authorIcebergCompactTable(s, dir),
        "hudi" -> authorHudiClusterTable(s, dir),
        "paimon" -> authorPaimonCompactTable(s, dir))
      tables.foreach { case (_, r) => GraftLake.compact(s, r): Unit }
      val maint = tables.map { case (fmt, r) =>
        val n = fmt match {
          case "delta" | "hudi" => GraftLake.reclaim(s, r).size.toLong
          case _                => GraftLake.expire(s, r).size.toLong
        }
        (fmt, n)
      }
      import s.implicits._
      val reads = tables.map { case (fmt, r) =>
        GraftLake.read(s, r).agg(count(lit(1)).as("n"))
          .select(lit(fmt).as("fmt"), lit("read").as("k"), col("n"))
      }.reduce(_ unionByName _)
      reads.unionByName(maint.toDF("fmt", "n")
        .select(col("fmt"), lit("maint").as("k"), col("n")))
        .orderBy(col("fmt"), col("k"))
    },

    // Delta ROW-LEVEL DELETE (the deletion-vector write path): one
    // distributed predicate scan grows a per-file DV executor-side;
    // the read excludes the dead rows and the CDF reports EXACTLY
    // them. A delete that silently dropped/kept extra rows shifts the
    // read census; one that mis-attributed changes shifts the cdf.
    "q490_delta_delete" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      val root = authorDeltaDeleteTable(s, dir)
      val v = DeltaLogLite.delete(s, root, col("l_quantity") > 25)
      val read = DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val cdf = DeltaLogLite.readChanges(s, root, v, v)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("cdf").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      import s.implicits._
      val files = Seq(
        ("files", "live",
          DeltaLogLite.snapshot(s, root).files.size.toLong))
        .toDF("surface", "k", "n")
        .withColumn("sum_qty", lit(null).cast(DoubleType))
      read.unionByName(cdf).unionByName(files)
        .orderBy(col("surface"), col("k"))
    },

    // Hudi UPSERT with the WRITTEN CDC (writeCdc=true): touched
    // groups rewrite by record key (updated rows stamp the new
    // instant, survivors keep theirs), NEW keys land in a fresh
    // group, and readChanges serves the update images from the
    // written RFC-51 changelog plus the new group's inferred inserts.
    "q491_hudi_upsert" -> { (s, dir) =>
      import graft.sources.HudiCowLite
      val root = authorHudiUpsertTable(s, dir)
      val src = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val updates = src.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(src.filter(col("o_orderkey") % 10 === 2))
        .withColumn("_hoodie_record_key",
          col("o_orderkey").cast(StringType))
      HudiCowLite.upsert(s, root, updates, writeCdc = true): Unit
      val read = HudiCowLite.read(s, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .select(lit("read").as("surface"),
          col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      val cdc = HudiCowLite.readChanges(s, root, "001")
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .select(lit("cdc").as("surface"),
          col("_change_type").as("k"), col("n"), col("sum_price"))
      read.unionByName(cdc).orderBy(col("surface"), col("k"))
    },

    // Paimon PRIMARY-KEY full compaction: the LSM merge (deduplicate
    // engine — %10∈(3,4) upserted ×2 at seq 2, %10=0 deleted) folds
    // into ONE +I file in bucket-0 with re-stamped winning sequences;
    // the read is unchanged and pre-compaction snapshots still
    // travel. A compaction that dropped a live key, resurrected the
    // deleted one, or collapsed the merge wrong shifts the census.
    "q492_paimon_pk_compact" -> { (s, dir) =>
      import graft.sources.PaimonLite
      val root = authorPaimonPkCompactTable(s, dir)
      PaimonLite.compact(s, root): Unit
      val read = PaimonLite.read(s, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .select(lit("read").as("surface"),
          col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      import s.implicits._
      val files = Seq(("files", "live",
        PaimonLite.snapshot(s, root).files.size.toLong))
        .toDF("surface", "k", "n")
        .withColumn("sum_price", lit(null).cast(DoubleType))
      read.unionByName(files).orderBy(col("surface"), col("k"))
    },

    // The BENCHED maintenance path: partitioned Delta OPTIMIZE over a
    // MEMOIZED source (authored once per JVM) — each invocation
    // copies the source, compacts the copy and reads the census, so
    // bench passes time the maintenance op itself, never fixture
    // authoring. Keeps compaction cost visible round-over-round
    // instead of adjudicated by roster exemption.
    "q493_delta_compact_bench" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      import org.apache.hadoop.fs.{FileUtil, Path => HPath}
      val src = authorDeltaBenchCompactSrc(s, dir)
      val root =
        s"/tmp/graft_delta/benchrun_${Integer.toHexString(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      val hfs = new HPath(root).getFileSystem(conf)
      hfs.delete(new HPath(root), true)
      if (!FileUtil.copy(hfs, new HPath(src), hfs, new HPath(root),
        false, conf)) throw new IllegalStateException(
        s"q493: could not stage a copy of $src")
      DeltaLogLite.compact(s, root): Unit
      val read = DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      import s.implicits._
      val files = DeltaLogLite.snapshot(s, root).files
        .groupBy(_.partitionValues("l_returnflag")).toSeq
        .map { case (f, fl) => (f, fl.size.toLong) }
        .toDF("k", "n")
        .select(lit("files").as("surface"), col("k"), col("n"),
          lit(null).cast(DoubleType).as("sum_qty"))
      read.unionByName(files).orderBy(col("surface"), col("k"))
    },

    // Iceberg EQUALITY-DELETE WRITE: our writer commits a content=2
    // delete file (keys = every orderkey holding a q>40 line) at
    // sequence max-live+1; our own reader then serves the PK-style
    // delete — every line of a matched order dies, strict-seq
    // ordering intact. A writer that mis-stamped sequences or
    // mis-listed existing manifests shifts the census.
    "q494_iceberg_eq_delete_write" -> { (s, dir) =>
      import graft.sources.IcebergLite
      val root = authorIcebergSeqTable(s, dir)
      val keys = IcebergLite.read(s, root)
        .filter(col("l_quantity") > 40)
        .select(col("l_orderkey")).distinct()
      IcebergLite.eqDelete(s, root, keys): Unit
      val read = IcebergLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      import s.implicits._
      val dels = Seq(("deletes", "files",
        IcebergLite.snapshot(s, root).eqDeletes.size.toLong))
        .toDF("surface", "k", "n")
        .withColumn("sum_qty", lit(null).cast(DoubleType))
      read.unionByName(dels).orderBy(col("surface"), col("k"))
    },

    // Delta ROW-LEVEL UPDATE: matched rows (q>25) die under grown
    // DVs and rewrite (+100) into fresh files, and the commit WRITES
    // its cdc actions — the CDF serves exact update_pre/postimages
    // (the synthesized fallback would render them delete+insert, a
    // different census). A writer that lost rows, double-applied the
    // SET, or mis-imaged the cdc shifts a row.
    "q495_delta_update" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      val root = authorDeltaDeleteTable(s, dir, tag = "rowupd")
      val v = DeltaLogLite.update(s, root, col("l_quantity") > 25,
        Map("l_quantity" -> (col("l_quantity") + 100)))
      val read = DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val cdf = DeltaLogLite.readChanges(s, root, v, v)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("cdf").as("surface"),
          col("_change_type").as("k"), col("n"), col("sum_qty"))
      read.unionByName(cdf).orderBy(col("surface"), col("k"))
    },

    // Iceberg PREDICATE DELETE — the merge-on-read DELETE WRITE
    // (positional delete files): o_totalprice > 200000 rows die by
    // (file, ordinal) through the GraftLake dispatch (all four
    // formats now serve the predicate delete); the pre-delete
    // snapshot travels; one content=1 delete file in the snapshot.
    "q504_iceberg_pos_delete_write" -> { (s, dir) =>
      import graft.sources.{GraftLake, IcebergLite}
      // tag must dodge q396's memoized ".../posdel_" fixture root —
      // this query MUTATES its table
      val root = authorIcebergKeyedTable(s, dir, tag = "pdelwrite")
      GraftLake.delete(s, root, col("o_totalprice") > 200000): Unit
      def census(df: DataFrame, surface: String): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"),
            col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      val read = census(IcebergLite.read(s, root), "read")
      val travel = census(
        IcebergLite.read(s, root, snapshotId = Some(1L)), "travel")
      import s.implicits._
      val dels = Seq(("deletes", "files",
        IcebergLite.snapshot(s, root).deleteFiles.size.toLong))
        .toDF("surface", "k", "n")
        .withColumn("sum_price", lit(null).cast(DoubleType))
      read.unionByName(travel).unionByName(dels)
        .orderBy(col("surface"), col("k"))
    },

    // The predicate-UPDATE matrix's two NEW arms through one
    // dispatch: Iceberg commits the merge-on-read UPDATE (positional
    // deletes + rewrites in ONE snapshot), Paimon composes the
    // SET-applied merged rows back through the PK writer — with this,
    // GraftLake.update (and .delete) serve all four formats.
    "q505_lake_update_matrix" -> { (s, dir) =>
      import graft.sources.{GraftLake, IcebergLite, PaimonLite}
      val iroot = authorIcebergKeyedTable(s, dir, tag = "upd")
      GraftLake.update(s, iroot, col("o_orderkey") % 10 === 2,
        Map("o_totalprice" -> (col("o_totalprice") * 3))): Unit
      val proot = authorPaimonPkWriteTable(s, dir)
      GraftLake.update(s, proot, col("o_orderkey") % 10 === 3,
        Map("o_totalprice" -> (col("o_totalprice") * 2))): Unit
      def census(df: DataFrame, fmt: String): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(fmt).as("fmt"),
            col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      census(IcebergLite.read(s, iroot), "iceberg")
        .unionByName(census(PaimonLite.read(s, proot), "paimon"))
        .orderBy(col("fmt"), col("k"))
    },

    // The SECOND benched maintenance path (q493's memoize-and-copy
    // methodology on Iceberg): bucket[4]-transform compaction over a
    // MEMOIZED source — each invocation copies the source, compacts
    // the copy (murmur3 bucket ordinals computed at rewrite time) and
    // reads the census, so the number tracks the transform rewrite,
    // never fixture authoring.
    "q503_iceberg_compact_bench" -> { (s, dir) =>
      import graft.sources.IcebergLite
      import org.apache.hadoop.fs.{FileUtil, Path => HPath}
      val src = authorIcebergBenchCompactSrc(s, dir)
      val root =
        s"/tmp/graft_iceberg/benchrun_${Integer.toHexString(dir.hashCode)}"
      val conf = s.sparkContext.hadoopConfiguration
      // copy through the RAW local FS: ChecksumFileSystem would write
      // .crc sidecars that go stale when the compaction REPLACES
      // version-hint.text through AtomicFiles' nio path
      val hfs = new HPath(root).getFileSystem(conf) match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          c.getRawFileSystem
        case f => f
      }
      hfs.delete(new HPath(root), true)
      if (!FileUtil.copy(hfs, new HPath(src), hfs, new HPath(root),
        false, conf)) throw new IllegalStateException(
        s"q503: could not stage a copy of $src")
      IcebergLite.compact(s, root): Unit
      val read = IcebergLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      import s.implicits._
      val files = Seq(("files", "live",
        IcebergLite.snapshot(s, root).files.size.toLong))
        .toDF("surface", "k", "n")
        .withColumn("sum_qty", lit(null).cast(DoubleType))
      read.unionByName(files).orderBy(col("surface"), col("k"))
    },

    // Delta COLUMN-MAPPED (mode=id) row-level UPDATE: the rewrite
    // must re-stamp the new data AND cdc files with physical names /
    // field ids (keeping _change_type literal) — a name-keeping
    // staging write would census-break the id-resolving read, and
    // the written CDF must image the update exactly across the
    // mapping.
    "q502_delta_mapped_update" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      val root = buildDeltaIdMappedTable(s, dir,
        s"/tmp/graft_delta/cmapidu_${Integer.toHexString(dir.hashCode)}",
        cdf = true)
      val v = DeltaLogLite.update(s, root, col("l_quantity") > 25,
        Map("l_quantity" -> (col("l_quantity") + 100)))
      val read = DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      val cdf = DeltaLogLite.readChanges(s, root, v, v)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("cdf").as("surface"),
          col("_change_type").as("k"), col("n"), col("sum_qty"))
      read.unionByName(cdf).orderBy(col("surface"), col("k"))
    },

    // SQL row-level DML + the keyed-upsert facade: graft_lake_delete
    // kills q>40 from PLAIN SQL (the predicate string parses through
    // the session parser), then GraftLake.upsert MERGES one row per
    // %10=1 orderkey (all surviving lines of those orders die under
    // DVs, the new rows append) — the census sees exactly the
    // remaining %10=0 lines plus one 777/U row per upserted key.
    "q501_graft_lake_dml" -> { (s, dir) =>
      graft.GraftExtensions.register(s)
      val root = authorDeltaDeleteTable(s, dir, tag = "sqldml")
      s.sql(s"SELECT * FROM graft_lake_delete('$root', " +
        "'l_quantity > 40')").collect(): Unit
      val ups = Tables.df(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 1)
        .select(col("l_orderkey")).distinct()
        .withColumn("l_quantity", lit(777.0))
        .withColumn("l_returnflag", lit("U"))
      graft.sources.GraftLake.upsert(s, root, ups,
        Seq("l_orderkey")): Unit
      val read = graft.sources.GraftLake.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      import s.implicits._
      val vers = Seq(("versions", "latest",
        graft.sources.DeltaLogLite.latestVersion(s, root)))
        .toDF("surface", "k", "n")
        .withColumn("sum_qty", lit(null).cast(DoubleType))
      read.unionByName(vers).orderBy(col("surface"), col("k"))
    },

    // Iceberg ONE-SNAPSHOT keyed UPDATE: eq-delete + append land in a
    // SINGLE snapshot at one sequence (strict data_seq < delete_seq
    // keeps the appended versions alive) — %10=1 keys update to ×2,
    // %10=5 keys insert, and time travel to the pre-update snapshot
    // shows the original rows: a reader sees the delete and append
    // together or not at all.
    "q500_iceberg_keyed_update" -> { (s, dir) =>
      import graft.sources.IcebergLite
      val root = authorIcebergKeyedTable(s, dir)
      val src = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val ups = src.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(src.filter(col("o_orderkey") % 10 === 5))
      IcebergLite.upsertKeyed(s, root, ups, Seq("o_orderkey")): Unit
      def census(df: DataFrame, surface: String): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"),
            col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      val read = census(IcebergLite.read(s, root), "read")
      val travel = census(
        IcebergLite.read(s, root, snapshotId = Some(1L)), "travel")
      import s.implicits._
      val snaps = Seq(("snapshots", "count",
        IcebergLite.snapshotIds(s, root).size.toLong))
        .toDF("surface", "k", "n")
        .withColumn("sum_price", lit(null).cast(DoubleType))
      read.unionByName(travel).unionByName(snaps)
        .orderBy(col("surface"), col("k"))
    },

    // Iceberg PARTITIONED row-level DML: on an identity-partitioned
    // (o_orderstatus) table, a PARTITION-MOVING predicate update
    // (%10==3 → status 'X') stages its rewrite under the recomputed
    // partition value, then a keyed upsert (%10==1 doubled, %10==5
    // new keys) spans partitions — the DML-staged files land under
    // o_orderstatus=<v> dirs whose rows all match their dir
    // (partition/consistent=1, one job over the staged files), the
    // read census reflects both writes, and snapshot-1 travel is the
    // untouched base.
    "q506_iceberg_part_dml" -> { (s, dir) =>
      import graft.sources.IcebergLite
      val root = authorIcebergKeyedTable(s, dir, tag = "pkeyed",
        partitioned = true)
      IcebergLite.update(s, root, col("o_orderkey") % 10 === 3,
        Map("o_orderstatus" -> lit("X"))): Unit
      val src = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val ups = src.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(src.filter(col("o_orderkey") % 10 === 5))
      IcebergLite.upsertKeyed(s, root, ups, Seq("o_orderkey")): Unit
      def census(df: DataFrame, surface: String): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"),
            col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      val read = census(IcebergLite.read(s, root), "read")
      val travel = census(
        IcebergLite.read(s, root, snapshotId = Some(1L)), "travel")
      import s.implicits._
      val staged = IcebergLite.metadataTable(s, root, "files")
        .select(col("file_path")).as[String].collect().sorted
        .filter(_.contains("o_orderstatus="))
      val consistent = s.read.parquet(staged.toIndexedSeq: _*)
        .withColumn("_pv", regexp_extract(col("_metadata.file_path"),
          "o_orderstatus=([^/]+)", 1))
        .agg(min((col("_pv") === col("o_orderstatus"))
          .cast(LongType))).head().getLong(0)
      val facts = Seq(
        ("snapshots", "count",
          IcebergLite.snapshotIds(s, root).size.toLong),
        ("partition", "consistent", consistent))
        .toDF("surface", "k", "n")
        .withColumn("sum_price", lit(null).cast(DoubleType))
      read.unionByName(travel).unionByName(facts)
        .orderBy(col("surface"), col("k"))
    },

    // Iceberg TRANSFORM compaction: a table partitioned by
    // bucket[4](o_orderkey) rewrites into one file PER BUCKET ORDINAL
    // computed from the spec's own murmur3 (Appendix B vectors pinned
    // in IcebergSpec) — the read census is unchanged, the file count
    // is the bucket count, and every row in every compacted file
    // hashes to its file's ordinal (checked in ONE job over the
    // compacted files; a mis-implemented hash census-breaks here).
    "q498_iceberg_transform_compact" -> { (s, dir) =>
      import graft.sources.{IcebergLite, IcebergTransforms}
      val root = authorIcebergBucketTable(s, dir)
      IcebergLite.compact(s, root): Unit
      val read = IcebergLite.read(s, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .select(lit("read").as("surface"),
          col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      import s.implicits._
      val filePaths = IcebergLite.metadataTable(s, root, "files")
        .select(col("file_path")).as[String].collect().sorted
      val tr = IcebergTransforms.resolve(root, "o_bucket", "bucket[4]",
        LongType)
      val consistent = s.read.parquet(filePaths: _*)
        .withColumn("_b", regexp_extract(col("_metadata.file_path"),
          "o_bucket=(\\d+)", 1).cast("int"))
        .agg(min((tr.expr(col("o_orderkey")) === col("_b"))
          .cast(LongType))).head().getLong(0)
      val facts = Seq(
        ("files", "live", filePaths.size.toLong),
        ("transform", "consistent", consistent))
        .toDF("surface", "k", "n")
        .withColumn("sum_price", lit(null).cast(DoubleType))
      read.unionByName(facts).orderBy(col("surface"), col("k"))
    },

    // Delta COLUMN-MAPPED (mode=id) compaction: the rewrite must
    // re-stamp PHYSICAL column names and parquet field ids — the
    // original files store ROTATED names where only the ids carry
    // identity, so a name-keeping rewrite would census-break the
    // id-resolving read, and the physical_ok row additionally pins
    // that each compacted footer's col-N field carries id N.
    "q499_delta_mapped_compact" -> { (s, dir) =>
      import graft.sources.DeltaLogLite
      val root = buildDeltaIdMappedTable(s, dir,
        s"/tmp/graft_delta/cmapidw_${Integer.toHexString(dir.hashCode)}")
      DeltaLogLite.compact(s, root): Unit
      val read = DeltaLogLite.read(s, root)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .select(lit("read").as("surface"),
          col("l_returnflag").as("k"), col("n"), col("sum_qty"))
      import s.implicits._
      val snapAfter = DeltaLogLite.snapshot(s, root)
      val files = snapAfter.files
        .map(f => (f.partitionValues("col-4"), 1L))
        .groupBy(_._1).toSeq
        .map { case (rf, fl) => ("files", rf, fl.size.toLong) }
        .toDF("surface", "k", "n")
        .withColumn("sum_qty", lit(null).cast(DoubleType))
      val physOk = snapAfter.files.forall { f =>
        val real = DeltaLogLite.resolveAddPath(root, f.path)
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(real),
            s.sparkContext.hadoopConfiguration))
        try {
          val sch = footer.getFooter.getFileMetaData.getSchema
          (1 to 3).forall { i =>
            sch.containsField(s"col-$i") &&
              Option(sch.getType(sch.getFieldIndex(s"col-$i")).getId)
                .exists(_.intValue == i)
          }
        } finally footer.close()
      }
      val mapped = Seq(("mapped", "physical_ok",
        if (physOk) 1L else 0L))
        .toDF("surface", "k", "n")
        .withColumn("sum_qty", lit(null).cast(DoubleType))
      read.unionByName(files).unionByName(mapped)
        .orderBy(col("surface"), col("k"))
    },

    // Paimon PRIMARY-KEY WRITES (the format's write path — +I/-D
    // KeyValue rows at a fresh max sequence, one delta APPEND
    // snapshot per batch): upsert doubles %10=1 and inserts the NEW
    // %10∈(5,6) keys, deleteKeys drops %10=0, and the PK full
    // compaction folds the writer's rows into one +I file. Snapshot 1
    // still time-travels to the pre-write state — the writer's delta
    // snapshots preserve history.
    "q497_paimon_pk_write" -> { (s, dir) =>
      import graft.sources.PaimonLite
      val root = authorPaimonPkWriteTable(s, dir)
      val src = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val ups = src.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(src.filter((col("o_orderkey") % 10).isin(5, 6)))
      PaimonLite.upsert(s, root, ups): Unit
      PaimonLite.deleteKeys(s, root,
        src.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"))): Unit
      PaimonLite.compact(s, root): Unit
      def census(df: DataFrame, surface: String): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"),
            col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      val read = census(PaimonLite.read(s, root), "read")
      val travel = census(
        PaimonLite.read(s, root, snapshotId = Some(1L)), "travel")
      import s.implicits._
      val files = Seq(("files", "live",
        PaimonLite.snapshot(s, root).files.size.toLong))
        .toDF("surface", "k", "n")
        .withColumn("sum_price", lit(null).cast(DoubleType))
      read.unionByName(travel).unionByName(files)
        .orderBy(col("surface"), col("k"))
    },

    // Hudi MOR ROW-LEVEL WRITES (the format's cheap-mutation point —
    // log-block APPENDS, never base rewrites): upsert patches %10=1
    // at ×2 and inserts the %10=5 keys log-borne, delete kills %10=0
    // via a DELETE_BLOCK, update triples %10=2 in place, and
    // compactLogs folds all appended blocks into a fresh base. The
    // read census checks the merge; the incremental census checks
    // per-record commit-time stamping SURVIVED the compaction (only
    // the written keys changed in range); one file slice, zero logs
    // after the fold.
    "q496_hudi_mor_write" -> { (s, dir) =>
      import graft.sources.HudiMorLite
      val root = authorHudiMorWriteTable(s, dir)
      val src = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val updates = src.filter(col("o_orderkey") % 10 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(src.filter(col("o_orderkey") % 10 === 5))
        .withColumn("_hoodie_record_key",
          col("o_orderkey").cast(StringType))
      HudiMorLite.upsert(s, root, updates): Unit
      HudiMorLite.delete(s, root, col("o_orderkey") % 10 === 0): Unit
      HudiMorLite.update(s, root, col("o_orderkey") % 10 === 2,
        Map("o_totalprice" -> (col("o_totalprice") * 3))): Unit
      HudiMorLite.compactLogs(s, root): Unit
      def census(df: DataFrame, surface: String): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .select(lit(surface).as("surface"),
            col("o_orderstatus").as("k"), col("n"), col("sum_price"))
      val read = census(HudiMorLite.read(s, root), "read")
      val inc = census(
        HudiMorLite.readIncremental(s, root, "001"), "inc")
      import s.implicits._
      val snap = HudiMorLite.snapshot(s, root)
      val files = Seq(
        ("files", "slices", snap.slices.size.toLong),
        ("files", "logs", snap.slices.map(_.logs.size.toLong).sum))
        .toDF("surface", "k", "n")
        .withColumn("sum_price", lit(null).cast(DoubleType))
      read.unionByName(inc).unionByName(files)
        .orderBy(col("surface"), col("k"))
    },

    // Hudi WRITTEN CDC (RFC-51 cdcStats + CDC_DATA_BLOCK): commit 002
    // rewrote EVERY key — half with unchanged values. The written
    // changelog records updates for all of them; a file diff sees
    // only the changed half. Matching this census therefore PROVES
    // the CDC block is decoded, not inferred.
    "q488_hudi_cdc_exact" -> { (s, dir) =>
      import graft.sources.HudiCowLite
      val root = authorHudiExactCdcTable(s, dir)
      HudiCowLite.readChanges(s, root, "001")
        .groupBy(col("_change_type"), col("_commit_time"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy(col("_change_type"), col("_commit_time"))
    }
  )

  private def deltaCensus(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .orderBy(col("l_returnflag"))

  /** Orders-keyed census for the primary-key lakehouse rows (PK
    * tables need a unique key, which lineitem lacks). */
  private def ordersCensus(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .orderBy(col("o_orderstatus"))

  private val deltaMemo = scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-commit Delta-layout lineitem table used by
    * q389/q390 (see q389's comment for the batch/commit layout).
    * Driver-side scaffolding bounded by 3 batches × |returnflag| tiny
    * writes — the graded surface is the READER; in production the log
    * is written by whatever engine owns the table. One batch-B file is
    * renamed to contain a space and logged percent-encoded, so the
    * live query exercises DeltaLogLite.decodeRelPath. Memoized per
    * sf-dir (the plan-lint builds every query's plan in one session). */
  private def authorDeltaTable(s: SparkSession, dir: String): String =
    deltaMemo.synchronized {
      deltaMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root = s"/tmp/graft_delta/li_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        // per-batch hive-layout writes; partitionBy drops the partition
        // column from the data files, exactly the Delta convention
        (0 to 2).foreach { b =>
          src.filter(col("l_orderkey") % 10 === b)
            .write.mode("overwrite").partitionBy("l_returnflag")
            .parquet(s"$root/batch$b")
        }
        // collect (relativePath, partitionValue, batch) for every file
        def files(b: Int): Seq[(String, String)] = {
          val bd = new java.io.File(s"$root/batch$b")
          bd.listFiles().toSeq
            .filter(_.getName.startsWith("l_returnflag="))
            .sortBy(_.getName)
            .flatMap { pd =>
              val rf = pd.getName.stripPrefix("l_returnflag=")
              pd.listFiles().toSeq.map(_.getName)
                .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
                .sorted
                .map(n => (s"batch$b/${pd.getName}/$n", rf))
            }
        }
        // rename ONE batch-1 file to contain a space; its add.path goes
        // into the log percent-encoded per the protocol
        val b1 = files(1)
        val (relOld, rfSp) = b1.head
        val relNew = relOld.replaceFirst("part-", "part sp ")
        LakeFiles.move(new java.io.File(s"$root/$relOld"),
          new java.io.File(s"$root/$relNew"))
        val batch1 = (relNew, rfSp) +: b1.tail
        def addLine(rel: String, rf: String): String = {
          val enc = rel.replace("%", "%25").replace(" ", "%20")
          s"""{"add":{"path":${jstr(enc)},"partitionValues":{"l_returnflag":${jstr(rf)}},"size":${new java.io.File(s"$root/$rel").length()},"modificationTime":0,"dataChange":true}}"""
        }
        val metaData =
          s"""{"metaData":{"id":"graft-q389","format":{"provider":"parquet","options":{}},"schemaString":${jstr(src.schema.json)},"partitionColumns":["l_returnflag"],"configuration":{},"createdTime":0}}"""
        // commitInfo timestamps make the log timestamp-travelable
        // (the deterministic inCommitTimestamps surface q416 rides)
        val commit0 = (s"""{"commitInfo":{"timestamp":1000}}""" +:
          metaData +:
          (files(0) ++ batch1).map { case (r, rf) => addLine(r, rf) })
          .mkString("", "\n", "\n")
        val commit1 = (s"""{"commitInfo":{"timestamp":2000}}""" +:
          (files(2).map { case (r, rf) => addLine(r, rf) } ++
          files(0).map { case (r, _) =>
            val enc = r.replace("%", "%25").replace(" ", "%20")
            s"""{"remove":{"path":${jstr(enc)},"deletionTimestamp":0,"dataChange":true}}"""
          })).mkString("", "\n", "\n")
        val logDir = Paths.get(root, "_delta_log")
        Files.createDirectories(logDir)
        Files.writeString(logDir.resolve(f"${0L}%020d.json"), commit0)
        Files.writeString(logDir.resolve(f"${1L}%020d.json"), commit1)
        root
      })
    }

  private val hudiMemo = scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-instant Hudi COW lineitem table used by
    * q394/q395 (see q394's comment for the timeline layout). One file
    * group per l_returnflag partition; instant 002 rewrites every
    * group's base file. The distinct-returnflag collect is a bounded
    * dimension lookup (|returnflag| = 3). Memoized per sf-dir. */
  private def authorHudiTable(s: SparkSession, dir: String): String =
    hudiMemo.synchronized {
      hudiMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root = s"/tmp/graft_hudi/li_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=lineitem\nhoodie.table.type=COPY_ON_WRITE\n")
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val flags = src.select(col("l_returnflag")).distinct()
          .collect().map(_.getString(0)).sorted
        def writeFiles(instant: String, group: String,
                       mods: Seq[Int]): String =
          flags.map { rf =>
            val part = s"l_returnflag=$rf"
            val rel = s"$part/$group-${rf}_0-0_$instant.parquet"
            LakeFiles.Local(root).parquet(
              src.filter(col("l_returnflag") === rf &&
                  (col("l_orderkey") % 10).isin(mods.map(Int.box): _*)),
              rel)
            s"""${jstr(part)}:[{"fileId":${jstr(s"$group-$rf")},"path":${jstr(rel)},"numWrites":1}]"""
          }.mkString(",")
        for ((instant, mods) <- Seq("001" -> Seq(0, 1), "002" -> Seq(1, 2))) {
          val stats = writeFiles(instant, "g", mods)
          Files.writeString(
            Paths.get(root, ".hoodie", s"$instant.commit"),
            s"""{"partitionToWriteStats":{$stats}}""")
        }
        // instant 003: a REPLACECOMMIT (insert-overwrite shape) that
        // replaces every g-group with a c-group holding batches B∪C∪D
        // — replay must drop the replaced generation entirely (keeping
        // it would double-count B∪C and hash-mismatch q399's oracle)
        val replaceStats = writeFiles("003", "c", Seq(1, 2, 3))
        val replaceIds = flags.map { rf =>
          s"""${jstr(s"l_returnflag=$rf")}:[${jstr(s"g-$rf")}]"""
        }.mkString(",")
        Files.writeString(
          Paths.get(root, ".hoodie", "003.replacecommit"),
          s"""{"partitionToReplaceFileIds":{$replaceIds},
             |"partitionToWriteStats":{$replaceStats}}""".stripMargin)
        root
      })
    }

  private val hudiMorMemo = scala.collection.mutable.Map.empty[String, String]

  /** Authors the MERGE_ON_READ Hudi table used by q409 (see q409's
    * comment for the timeline). Log files are REAL junk-byte files on
    * disk so the read-optimized path provably never opens them.
    * Memoized per sf-dir. */
  private def authorHudiMorTable(s: SparkSession, dir: String): String =
    hudiMorMemo.synchronized {
      hudiMorMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/mor_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=lineitem_mor\n" +
            "hoodie.table.type=MERGE_ON_READ\n")
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val flags = src.select(col("l_returnflag")).distinct()
          .collect().map(_.getString(0)).sorted
        def writeBase(instant: String, rf: String,
                      mods: Seq[Int]): String = {
          val part = s"l_returnflag=$rf"
          val rel = s"$part/g-${rf}_0-0_$instant.parquet"
          LakeFiles.Local(root).parquet(
            src.filter(col("l_returnflag") === rf &&
                (col("l_orderkey") % 10).isin(mods.map(Int.box): _*)),
            rel)
          rel
        }
        def stat(rf: String, rel: String): String =
          s"""${jstr(s"l_returnflag=$rf")}:[{"fileId":${jstr(s"g-$rf")},"path":${jstr(rel)},"numWrites":1}]"""
        // deltacommit 001: base-parquet inserts (batches A∪B per group)
        val s001 = flags.map(rf =>
          stat(rf, writeBase("001", rf, Seq(0, 1)))).mkString(",")
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{$s001}}""")
        // deltacommit 002: LOG writes for every group — junk bytes on
        // disk; the read-optimized path must never open them
        val s002 = flags.map { rf =>
          val rel = s"l_returnflag=$rf/.g-${rf}_001.log.1"
          Files.write(Paths.get(root, rel),
            "NOT-A-PARQUET-LOG-BLOCK".getBytes("UTF-8"))
          stat(rf, rel)
        }.mkString(",")
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{$s002}}""")
        // commit 003: compaction of ONLY flag N's group — its new base
        // merges the logged batch C
        val s003 = stat("N", writeBase("003", "N", Seq(0, 1, 2)))
        Files.writeString(Paths.get(root, ".hoodie", "003.commit"),
          s"""{"partitionToWriteStats":{$s003}}""")
        root
      })
    }

  private val hudiMorSnapMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MERGE_ON_READ Hudi table q431 SNAPSHOT-reads: one
    * unpartitioned file group g1. Deltacommit 001 base-inserts orders
    * %10<5 (with `_hoodie_record_key` = the order key, as Hudi
    * populates); deltacommit 002 appends a REAL HoodieLogFormat log
    * (.g1_001.log.1) whose single AVRO_DATA_BLOCK upserts %10∈(3,4)
    * at doubled o_totalprice and soft-deletes %10=0 via
    * `_hoodie_is_deleted` — the same upsert algebra as the Paimon PK
    * legs, so the oracle recomputes it from orders. Memoized per
    * sf-dir. */
  private def authorHudiMorSnapTable(s: SparkSession,
                                     dir: String): String =
    hudiMorSnapMemo.synchronized {
      hudiMorSnapMemo.getOrElseUpdate(dir,
        authorHudiMorSnapTableAt(s, dir,
          s"/tmp/graft_hudi/morsnap_${Integer.toHexString(dir.hashCode)}"))
    }

  /** The q431 layout at an explicit root (q480 clusters its own
    * fresh copy, so the memoized table stays untouched). */
  private def authorHudiMorSnapTableAt(s: SparkSession, dir: String,
                                       root: String): String = {
        import java.nio.file.{Files, Paths}
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor\n" +
            "hoodie.table.type=MERGE_ON_READ\n")
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey").cast("string")
            .as("_hoodie_record_key"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        LakeFiles.Local(root).parquet(base, "g1_0-0_001.parquet")
        def stat(path: String): String =
          s""""":[{"fileId":"g1","path":${jstr(path)},"numWrites":1}]"""
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{${stat("g1_0-0_001.parquet")}}}""")
        // log records: driver-side authoring collect is bounded fixture
        // scaffolding (same grain as the DV fixtures' ordinal reads)
        val avroSchema =
          """{"type":"record","name":"r","fields":[
            | {"name":"_hoodie_record_key","type":"string"},
            | {"name":"o_orderkey","type":"long"},
            | {"name":"o_totalprice","type":"double"},
            | {"name":"o_orderstatus","type":"string"},
            | {"name":"_hoodie_is_deleted","type":"boolean"}]}"""
            .stripMargin
        def recs(df: DataFrame, deleted: Boolean): Seq[Map[String, Any]] =
          df.select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus")).collect().toSeq.map { r =>
            Map[String, Any](
              "_hoodie_record_key" -> r.getLong(0).toString,
              "o_orderkey" -> r.getLong(0),
              "o_totalprice" -> r.getDouble(1),
              "o_orderstatus" -> r.getString(2),
              "_hoodie_is_deleted" -> deleted)
          }
        val upserts = recs(base.filter((col("o_orderkey") % 10)
          .isin(3, 4))
          .withColumn("o_totalprice", col("o_totalprice") * 2),
          deleted = false)
        val deletes = recs(base.filter(col("o_orderkey") % 10 === 0),
          deleted = true)
        graft.sources.HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
          Seq(avroSchema -> (upserts ++ deletes)))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.1")}}}""")
        root
  }

  /** Authors the FRESH MOR table q496's writers mutate (NOT memoized
    * — the query upserts/deletes/updates/compacts it, so every
    * invocation starts from the same clean state): one file group,
    * orders %10<5 with `_hoodie_commit_time`=001 so incremental
    * reads bound across the writes. */
  private def authorHudiMorWriteTable(s: SparkSession,
                                      dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_hudi/morwrite_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=orders_mor_write\n" +
        "hoodie.table.type=MERGE_ON_READ\n")
    val base = Tables.df(s, dir, "orders")
      .select(col("o_orderkey").cast("string")
        .as("_hoodie_record_key"),
        lit("001").as("_hoodie_commit_time"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .filter(col("o_orderkey") % 10 < 5)
    LakeFiles.Local(root).parquet(base, "g1_0-0_001.parquet")
    Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
      s"""{"partitionToWriteStats":{"":[{"fileId":"g1","path":"g1_0-0_001.parquet","numWrites":1}]}}""")
    root
  }

  private val hudiMorDelMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MOR table q434 reads — q431's layout plus the HARD
    * deletes a Spark-SQL `DELETE FROM` writes: log.1's block 0 (Avro)
    * upserts %10∈(3,4) at doubled o_totalprice, block 1 is a REAL
    * version-3 DELETE_BLOCK (binary-Avro HoodieDeleteRecordList) for
    * the %10∈(0,3) keys, and log.2 RE-INSERTS the %10=3 keys at
    * tripled price — the delete-then-re-insert race the shared order
    * stream must resolve (3 survives at ×3; 0 stays dead). Memoized
    * per sf-dir. */
  private def authorHudiMorDeleteTable(s: SparkSession,
                                       dir: String): String =
    hudiMorDelMemo.synchronized {
      hudiMorDelMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/mordel_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor_del\n" +
            "hoodie.table.type=MERGE_ON_READ\n")
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey").cast("string")
            .as("_hoodie_record_key"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        LakeFiles.Local(root).parquet(base, "g1_0-0_001.parquet")
        def stat(path: String): String =
          s""""":[{"fileId":"g1","path":${jstr(path)},"numWrites":1}]"""
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{${stat("g1_0-0_001.parquet")}}}""")
        val avroSchema =
          """{"type":"record","name":"r","fields":[
            | {"name":"_hoodie_record_key","type":"string"},
            | {"name":"o_orderkey","type":"long"},
            | {"name":"o_totalprice","type":"double"},
            | {"name":"o_orderstatus","type":"string"},
            | {"name":"_hoodie_is_deleted","type":"boolean"}]}"""
            .stripMargin
        // bounded fixture-authoring collects (same grain as q431's)
        def recs(df: DataFrame, mult: Double): Seq[Map[String, Any]] =
          df.select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus")).collect().toSeq.map { r =>
            Map[String, Any](
              "_hoodie_record_key" -> r.getLong(0).toString,
              "o_orderkey" -> r.getLong(0),
              "o_totalprice" -> (r.getDouble(1) * mult),
              "o_orderstatus" -> r.getString(2),
              "_hoodie_is_deleted" -> false)
          }
        val delKeys = base.filter((col("o_orderkey") % 10).isin(0, 3))
          .select(col("o_orderkey")).collect().toSeq
          .map(r => r.getLong(0).toString -> Option(""))
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1",
          Seq(
            graft.sources.HudiMorLite.AvroBlockSpec(avroSchema,
              recs(base.filter((col("o_orderkey") % 10).isin(3, 4)), 2.0)),
            graft.sources.HudiMorLite.DeleteBlockSpec(delKeys)))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.1")}}}""")
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2",
          Seq(graft.sources.HudiMorLite.AvroBlockSpec(avroSchema,
            recs(base.filter(col("o_orderkey") % 10 === 3), 3.0))))
        Files.writeString(Paths.get(root, ".hoodie", "003.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.2")}}}""")
        root
      })
    }

  private val hudiMorIncMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MOR table q455 incremental-reads: base g1 (orders
    * %10<5, `_hoodie_commit_time`=001); deltacommit 002's log upserts
    * %10∈(3,4) at ×2 (ct=002); deltacommit 003's log re-upserts %10=3
    * at ×5 and soft-deletes %10=0 (ct=003) AND inserts new group g2
    * (%10∈(5,6), ct=003). Incremental (001, 003] must serve the
    * MERGED values of keys last changed in range — 3 at ×5, 4 at ×2 —
    * plus g2's inserts; the deletes and the untouched ct=001 rows
    * stay invisible. Memoized per sf-dir. */
  private def authorHudiMorIncTable(s: SparkSession,
                                    dir: String): String =
    hudiMorIncMemo.synchronized {
      hudiMorIncMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/morinc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor_inc\n" +
            "hoodie.table.type=MERGE_ON_READ\n")
        val src = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
        def baseDf(filter: Column, ct: String): DataFrame =
          src.filter(filter)
            .select(col("o_orderkey").cast("string")
              .as("_hoodie_record_key"),
              lit(ct).as("_hoodie_commit_time"),
              col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus"))
        val lake = LakeFiles.Local(root)
        lake.parquet(baseDf(col("o_orderkey") % 10 < 5, "001"),
          "g1_0-0_001.parquet")
        def stat(fid: String, p: String): String =
          s"""{"fileId":${jstr(fid)},"path":${jstr(p)},"numWrites":1}"""
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("g1", "g1_0-0_001.parquet")}]}}""")
        val avroSchema =
          """{"type":"record","name":"r","fields":[
            | {"name":"_hoodie_record_key","type":"string"},
            | {"name":"_hoodie_commit_time","type":"string"},
            | {"name":"o_orderkey","type":"long"},
            | {"name":"o_totalprice","type":"double"},
            | {"name":"o_orderstatus","type":"string"},
            | {"name":"_hoodie_is_deleted","type":"boolean"}]}"""
            .stripMargin
        def recs(filter: Column, mult: Double, ct: String,
                 deleted: Boolean = false): Seq[Map[String, Any]] =
          src.filter(filter)
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus")).collect().toSeq.map { r =>
              Map[String, Any](
                "_hoodie_record_key" -> r.getLong(0).toString,
                "_hoodie_commit_time" -> ct,
                "o_orderkey" -> r.getLong(0),
                "o_totalprice" -> (r.getDouble(1) * mult),
                "o_orderstatus" -> r.getString(2),
                "_hoodie_is_deleted" -> deleted)
            }
        import graft.sources.HudiMorLite.AvroBlockSpec
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1",
          Seq(AvroBlockSpec(avroSchema,
            recs((col("o_orderkey") % 10).isin(3, 4), 2.0, "002"))))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("g1", ".g1_001.log.1")}]}}""")
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2",
          Seq(AvroBlockSpec(avroSchema,
            recs(col("o_orderkey") % 10 === 3, 5.0, "003")
              ++ recs(col("o_orderkey") % 10 === 0, 1.0, "003",
                deleted = true))))
        lake.parquet(baseDf((col("o_orderkey") % 10).isin(5, 6), "003"),
          "g2_0-0_003.parquet")
        Files.writeString(Paths.get(root, ".hoodie", "003.deltacommit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("g1", ".g1_001.log.2")},${
            stat("g2", "g2_0-0_003.parquet")}]}}""")
        root
      })
    }

  private val hudiMorPcIncMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the PRECOMBINE × INCREMENTAL MOR table q459 reads. Base
    * g1 at 001 (keys %10<5, o_seq=10, ct=001); log.1 arrives at 002
    * (keys %10∈(3,4) ×2, seq 30); log.2 arrives at 003 — keys
    * %10∈(3,4) ×5 at seq 20 (LATE: range-selected by arrival, loses
    * the event-time merge to seq 30), key %10=1 ×4 seq 25 (wins vs
    * base), key %10=2 ×9 seq 5 (loses to the base's seq 10 — the
    * STORED row surfaces), key %10=0 delete at seq 50 (winning delete
    * — omitted); base g2 at 003 inserts %10∈(5,6) (the untouched
    * side). Memoized per sf-dir. */
  private def authorHudiMorPcIncTable(s: SparkSession,
                                      dir: String): String =
    hudiMorPcIncMemo.synchronized {
      hudiMorPcIncMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/morpcinc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor_pc_inc\n" +
            "hoodie.table.type=MERGE_ON_READ\n" +
            "hoodie.table.precombine.field=o_seq\n")
        val src = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
        def baseDf(filter: Column, ct: String): DataFrame =
          src.filter(filter)
            .select(col("o_orderkey").cast("string")
              .as("_hoodie_record_key"),
              lit(ct).as("_hoodie_commit_time"),
              col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus"), lit(10L).as("o_seq"))
        val lake = LakeFiles.Local(root)
        lake.parquet(baseDf(col("o_orderkey") % 10 < 5, "001"),
          "g1_0-0_001.parquet")
        def stat(fid: String, p: String): String =
          s"""{"fileId":${jstr(fid)},"path":${jstr(p)},"numWrites":1}"""
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("g1", "g1_0-0_001.parquet")}]}}""")
        val avroSchema =
          """{"type":"record","name":"r","fields":[
            | {"name":"_hoodie_record_key","type":"string"},
            | {"name":"_hoodie_commit_time","type":"string"},
            | {"name":"o_orderkey","type":"long"},
            | {"name":"o_totalprice","type":"double"},
            | {"name":"o_orderstatus","type":"string"},
            | {"name":"o_seq","type":"long"},
            | {"name":"_hoodie_is_deleted","type":"boolean"}]}"""
            .stripMargin
        def recs(ms: Seq[Int], mult: Double, ct: String, seq: Long,
                 deleted: Boolean = false): Seq[Map[String, Any]] =
          src.filter((col("o_orderkey") % 10).isin(ms.map(Int.box): _*))
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus")).collect().toSeq.map { r =>
              Map[String, Any](
                "_hoodie_record_key" -> r.getLong(0).toString,
                "_hoodie_commit_time" -> ct,
                "o_orderkey" -> r.getLong(0),
                "o_totalprice" -> (r.getDouble(1) * mult),
                "o_orderstatus" -> r.getString(2),
                "o_seq" -> seq,
                "_hoodie_is_deleted" -> deleted)
            }
        import graft.sources.HudiMorLite.AvroBlockSpec
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1",
          Seq(AvroBlockSpec(avroSchema,
            recs(Seq(3, 4), 2.0, "002", seq = 30L))))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("g1", ".g1_001.log.1")}]}}""")
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2",
          Seq(AvroBlockSpec(avroSchema,
            recs(Seq(3, 4), 5.0, "003", seq = 20L)
              ++ recs(Seq(1), 4.0, "003", seq = 25L)
              ++ recs(Seq(2), 9.0, "003", seq = 5L)
              ++ recs(Seq(0), 1.0, "003", seq = 50L, deleted = true))))
        lake.parquet(baseDf((col("o_orderkey") % 10).isin(5, 6), "003"),
          "g2_0-0_003.parquet")
        Files.writeString(Paths.get(root, ".hoodie", "003.deltacommit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("g1", ".g1_001.log.2")},${
            stat("g2", "g2_0-0_003.parquet")}]}}""")
        root
      })
    }

  private val hudiIncMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the COW table q450 incremental-reads: commit 001 inserts
    * batch A (l_orderkey%10=0, `_hoodie_commit_time`=001); commit 002
    * REWRITES A's file group (the l_quantity>30 rows upserted at
    * doubled price and commit time 002, the rest untouched at 001)
    * and inserts batch B (%10=1) as a new group at 002. The
    * incremental read over (001, 002] must serve exactly the upserted
    * subset at ×2 plus batch B — rewritten-but-unchanged rows stay
    * invisible. Memoized per sf-dir. */
  private def authorHudiIncrementalTable(s: SparkSession,
                                         dir: String): String =
    hudiIncMemo.synchronized {
      hudiIncMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/inc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=li_inc\n" +
            "hoodie.table.type=COPY_ON_WRITE\n")
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val lake = LakeFiles.Local(root)
        val a = src.filter(col("l_orderkey") % 10 === 0)
        lake.parquet(a.select(lit("001").as("_hoodie_commit_time"),
          col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag")), "gA_0-0_001.parquet")
        lake.parquet(a.select(
          when(col("l_quantity") > 30, "002").otherwise("001")
            .as("_hoodie_commit_time"),
          col("l_orderkey"), col("l_quantity"),
          when(col("l_quantity") > 30, col("l_extendedprice") * 2)
            .otherwise(col("l_extendedprice")).as("l_extendedprice"),
          col("l_returnflag")), "gA_0-0_002.parquet")
        lake.parquet(src.filter(col("l_orderkey") % 10 === 1)
          .select(lit("002").as("_hoodie_commit_time"),
            col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_returnflag")), "gB_0-0_002.parquet")
        def stat(fid: String, p: String): String =
          s"""{"fileId":${jstr(fid)},"path":${jstr(p)},"numWrites":1}"""
        Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("gA", "gA_0-0_001.parquet")}]}}""")
        Files.writeString(Paths.get(root, ".hoodie", "002.commit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("gA", "gA_0-0_002.parquet")},${
            stat("gB", "gB_0-0_002.parquet")}]}}""")
        root
      })
    }

  /** Authors the COW table q473 CLUSTERS: group gA at 001 (batch
    * %10=0, rewritten at 002 with l_quantity>30 upserted at ×2
    * price), group gB at 002 (batch %10=1) — the q450 shape on its
    * own root. NOT memoized — the query appends a replacecommit, so
    * each invocation rebuilds. */
  private def authorHudiClusterTable(s: SparkSession,
                                     dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_hudi/cluster_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=li_cluster\n" +
        "hoodie.table.type=COPY_ON_WRITE\n")
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val lake = LakeFiles.Local(root)
    val a = src.filter(col("l_orderkey") % 10 === 0)
    lake.parquet(a.select(lit("001").as("_hoodie_commit_time"),
      col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag")), "gA_0-0_001.parquet")
    lake.parquet(a.select(
      when(col("l_quantity") > 30, "002").otherwise("001")
        .as("_hoodie_commit_time"),
      col("l_orderkey"), col("l_quantity"),
      when(col("l_quantity") > 30, col("l_extendedprice") * 2)
        .otherwise(col("l_extendedprice")).as("l_extendedprice"),
      col("l_returnflag")), "gA_0-0_002.parquet")
    lake.parquet(src.filter(col("l_orderkey") % 10 === 1)
      .select(lit("002").as("_hoodie_commit_time"),
        col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag")), "gB_0-0_002.parquet")
    def stat(fid: String, p: String): String =
      s"""{"fileId":${jstr(fid)},"path":${jstr(p)},"numWrites":1}"""
    Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
      s"""{"partitionToWriteStats":{"":[${
        stat("gA", "gA_0-0_001.parquet")}]}}""")
    Files.writeString(Paths.get(root, ".hoodie", "002.commit"),
      s"""{"partitionToWriteStats":{"":[${
        stat("gA", "gA_0-0_002.parquet")},${
        stat("gB", "gB_0-0_002.parquet")}]}}""")
    root
  }

  /** Authors the append-only Paimon table q474 COMPACTS: snapshot 1
    * adds batch %10=0, snapshot 2 adds %10=1 (cumulative base lists).
    * NOT memoized — the query publishes a COMPACT snapshot. */
  private def authorPaimonCompactTable(s: SparkSession,
                                       dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_paimon/compact_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    val src = Tables.df(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
    def writeData(df: DataFrame, name: String): Unit =
      LakeFiles.Local(root).parquet(df, s"bucket-0/$name")
    writeData(src.filter(col("o_orderkey") % 10 === 0), "f1.parquet")
    writeData(src.filter(col("o_orderkey") % 10 === 1), "f2.parquet")
    val lake = LakeFiles.Local(root)
    import s.implicits._
    def manifest(rel: String, fn: String): Unit =
      lake.avro(Seq((0, fn)).toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
    manifest("manifest/m1.avro", "f1.parquet")
    manifest("manifest/m2.avro", "f2.parquet")
    def mlist(rel: String, names: String*): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toSeq.toDF("_FILE_NAME"), rel)
    mlist("manifest/ml-empty.avro")
    mlist("manifest/ml-1.avro", "m1.avro")
    mlist("manifest/ml-2.avro", "m2.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"o_orderkey","type":"BIGINT"},
        | {"id":1,"name":"o_totalprice","type":"DOUBLE"},
        | {"id":2,"name":"o_orderstatus","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":[],"primaryKeys":[],
        |"options":{"file.format":"parquet"}}""".stripMargin)
    def snapJson(id: Long, bs: String, dl: String): String =
      s"""{"version":3,"id":$id,"schemaId":0,
         |"baseManifestList":${jstr(bs)},
         |"deltaManifestList":${jstr(dl)},
         |"commitKind":"APPEND","commitUser":"graft",
         |"commitIdentifier":$id,"timeMillis":0}""".stripMargin
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      snapJson(1, "ml-empty.avro", "ml-1.avro"))
    Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
      snapJson(2, "ml-1.avro", "ml-2.avro"))
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
    root
  }

  private val hudiCdcMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the COW table q469 reads CHANGES from. Record key =
    * o_orderkey (unique in orders). Commit 001 writes file group gA
    * (all %10<5 keys). Commit 002 REWRITES gA — %10=0 keys deleted
    * (absent from the new file), %10∈(3,4) upserted at ×2 price with
    * ct=002, %10∈(1,2) carried unchanged at their ct=001 — and adds
    * the new group gB (%10=5). The inferred CDC of (001, 002] must
    * emit exactly: deletes (%10=0, before image), pre+post images
    * (%10∈(3,4)), inserts (%10=5) — and stay SILENT on the carried
    * %10∈(1,2) rows (a reader diffing whole files without the
    * unchanged-key cut would emit them as churn). Memoized per
    * sf-dir. */
  private def authorHudiCdcTable(s: SparkSession, dir: String): String =
    hudiCdcMemo.synchronized {
      hudiCdcMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/cdc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=o_cdc\n" +
            "hoodie.table.type=COPY_ON_WRITE\n")
        val src = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
        def withMeta(df: DataFrame, ct: Column): DataFrame =
          df.select(ct.as("_hoodie_commit_time"),
            col("o_orderkey").cast(StringType).as("_hoodie_record_key"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val lake = LakeFiles.Local(root)
        val base = src.filter(col("o_orderkey") % 10 < 5)
        lake.parquet(withMeta(base, lit("001")), "gA_0-0_001.parquet")
        lake.parquet(withMeta(
          base.filter(col("o_orderkey") % 10 =!= 0)
            .withColumn("o_totalprice",
              when((col("o_orderkey") % 10).isin(3, 4),
                col("o_totalprice") * 2).otherwise(col("o_totalprice"))),
          when((col("o_orderkey") % 10).isin(3, 4), "002")
            .otherwise("001")), "gA_0-0_002.parquet")
        lake.parquet(withMeta(src.filter(col("o_orderkey") % 10 === 5),
          lit("002")), "gB_0-0_002.parquet")
        def stat(fid: String, p: String): String =
          s"""{"fileId":${jstr(fid)},"path":${jstr(p)},"numWrites":1}"""
        Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("gA", "gA_0-0_001.parquet")}]}}""")
        Files.writeString(Paths.get(root, ".hoodie", "002.commit"),
          s"""{"partitionToWriteStats":{"":[${
            stat("gA", "gA_0-0_002.parquet")},${
            stat("gB", "gB_0-0_002.parquet")}]}}""")
        root
      })
    }

  private val hudiMorPqMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MOR table q448 reads — q431's algebra with the log
    * block in PARQUET format (`hoodie.logfile.data.block.format=
    * parquet`, the recommended Spark-writer setting): one
    * PARQUET_DATA_BLOCK whose content is a complete parquet file
    * upserting %10∈(3,4) at doubled price and soft-deleting %10=0.
    * Memoized per sf-dir. */
  private def authorHudiMorParquetTable(s: SparkSession,
                                        dir: String): String =
    hudiMorPqMemo.synchronized {
      hudiMorPqMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/morpq_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor_pq\n" +
            "hoodie.table.type=MERGE_ON_READ\n")
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey").cast("string")
            .as("_hoodie_record_key"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        LakeFiles.Local(root).parquet(base, "g1_0-0_001.parquet")
        def stat(path: String): String =
          s""""":[{"fileId":"g1","path":${jstr(path)},"numWrites":1}]"""
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{${stat("g1_0-0_001.parquet")}}}""")
        val logRows = base.filter((col("o_orderkey") % 10).isin(3, 4))
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("_hoodie_is_deleted", lit(false))
          .unionByName(base.filter(col("o_orderkey") % 10 === 0)
            .withColumn("_hoodie_is_deleted", lit(true)))
        // the log block's payload: the bytes of one parquet file
        val block = new java.io.File(s"$root/_tmpblock.parquet")
        LakeFiles.stage(logRows, "parquet", new java.io.File(s"$root/_tmp"),
          block)
        val blockBytes = Files.readAllBytes(block.toPath)
        rm(block)
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1",
          Seq(graft.sources.HudiMorLite.ParquetBlockSpec(blockBytes)))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.1")}}}""")
        root
      })
    }

  private val hudiMorRbMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MOR table q443 reads — q431's layout plus a FAILED
    * write and its ROLLBACK (HoodieCommandBlock): log.1 block 0
    * (INSTANT_TIME 002) upserts %10∈(3,4) at ×2 and soft-deletes the
    * %10=0 keys; log.1 block 1 (INSTANT_TIME 003 — the failed write)
    * junk-upserts %10∈(1,2) at ×9 and resurrects the %10=0 keys at
    * ×7; log.2 opens with the rollback COMMAND_BLOCK targeting
    * instant 003 (CROSS-FILE, as Hudi's rollback appends to the file
    * group's next log) and then upserts %10=1 at ×3 (INSTANT_TIME
    * 004). The rolled-back block's rows must vanish; the blocks
    * around it stand. Memoized per sf-dir. */
  private def authorHudiMorRollbackTable(s: SparkSession,
                                         dir: String): String =
    hudiMorRbMemo.synchronized {
      hudiMorRbMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/morrb_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor_rb\n" +
            "hoodie.table.type=MERGE_ON_READ\n")
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey").cast("string")
            .as("_hoodie_record_key"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        LakeFiles.Local(root).parquet(base, "g1_0-0_001.parquet")
        def stat(path: String): String =
          s""""":[{"fileId":"g1","path":${jstr(path)},"numWrites":1}]"""
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{${stat("g1_0-0_001.parquet")}}}""")
        val avroSchema =
          """{"type":"record","name":"r","fields":[
            | {"name":"_hoodie_record_key","type":"string"},
            | {"name":"o_orderkey","type":"long"},
            | {"name":"o_totalprice","type":"double"},
            | {"name":"o_orderstatus","type":"string"},
            | {"name":"_hoodie_is_deleted","type":"boolean"}]}"""
            .stripMargin
        // bounded fixture-authoring collects (same grain as q431's)
        def recs(df: DataFrame, mult: Double,
                 deleted: Boolean = false): Seq[Map[String, Any]] =
          df.select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus")).collect().toSeq.map { r =>
            Map[String, Any](
              "_hoodie_record_key" -> r.getLong(0).toString,
              "o_orderkey" -> r.getLong(0),
              "o_totalprice" -> (r.getDouble(1) * mult),
              "o_orderstatus" -> r.getString(2),
              "_hoodie_is_deleted" -> deleted)
          }
        import graft.sources.HudiMorLite.{AvroBlockSpec, CommandBlockSpec}
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1",
          Seq(
            AvroBlockSpec(avroSchema,
              recs(base.filter((col("o_orderkey") % 10).isin(3, 4)), 2.0)
                ++ recs(base.filter(col("o_orderkey") % 10 === 0), 1.0,
                  deleted = true),
              instantTime = Some("002")),
            AvroBlockSpec(avroSchema,
              recs(base.filter((col("o_orderkey") % 10).isin(1, 2)), 9.0)
                ++ recs(base.filter(col("o_orderkey") % 10 === 0), 7.0),
              instantTime = Some("003"))))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.1")}}}""")
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2",
          Seq(
            CommandBlockSpec(Some("003")),
            AvroBlockSpec(avroSchema,
              recs(base.filter(col("o_orderkey") % 10 === 1), 3.0),
              instantTime = Some("004"))))
        Files.writeString(Paths.get(root, ".hoodie", "004.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.2")}}}""")
        root
      })
    }

  private val hudiMorPcMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the EVENT-TIME-merged MOR table q444 reads:
    * hoodie.properties declares `hoodie.table.precombine.field=o_seq`
    * and the base (orders %10<5) carries o_seq=10 everywhere. Log.1
    * (instant 002) upserts %10∈(3,4) at ×2 with o_seq=30 and
    * soft-deletes %10=0 at o_seq=50. Log.2 (instant 003 — LATER
    * arrival) upserts %10∈(3,4) at ×5 with o_seq=20 (a late arrival
    * with a LOWER ordering — must lose to log.1's 30), %10=1 at ×4
    * with o_seq=25 (outranks the base's 10 — wins), and %10=2 at ×9
    * with o_seq=5 (loses to the BASE row). Memoized per sf-dir. */
  private def authorHudiMorPrecombineTable(s: SparkSession,
                                           dir: String): String =
    hudiMorPcMemo.synchronized {
      hudiMorPcMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/morpc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor_pc\n" +
            "hoodie.table.type=MERGE_ON_READ\n" +
            "hoodie.table.precombine.field=o_seq\n")
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey").cast("string")
            .as("_hoodie_record_key"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
            lit(10L).as("o_seq"))
          .filter(col("o_orderkey") % 10 < 5)
        LakeFiles.Local(root).parquet(base, "g1_0-0_001.parquet")
        def stat(path: String): String =
          s""""":[{"fileId":"g1","path":${jstr(path)},"numWrites":1}]"""
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{${stat("g1_0-0_001.parquet")}}}""")
        val avroSchema =
          """{"type":"record","name":"r","fields":[
            | {"name":"_hoodie_record_key","type":"string"},
            | {"name":"o_orderkey","type":"long"},
            | {"name":"o_totalprice","type":"double"},
            | {"name":"o_orderstatus","type":"string"},
            | {"name":"o_seq","type":"long"},
            | {"name":"_hoodie_is_deleted","type":"boolean"}]}"""
            .stripMargin
        // bounded fixture-authoring collects (same grain as q431's)
        def recs(df: DataFrame, mult: Double, seq: Long,
                 deleted: Boolean = false): Seq[Map[String, Any]] =
          df.select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus")).collect().toSeq.map { r =>
            Map[String, Any](
              "_hoodie_record_key" -> r.getLong(0).toString,
              "o_orderkey" -> r.getLong(0),
              "o_totalprice" -> (r.getDouble(1) * mult),
              "o_orderstatus" -> r.getString(2),
              "o_seq" -> seq,
              "_hoodie_is_deleted" -> deleted)
          }
        import graft.sources.HudiMorLite.AvroBlockSpec
        def keys(ms: Int*) =
          base.filter((col("o_orderkey") % 10).isin(ms.map(Int.box): _*))
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1",
          Seq(AvroBlockSpec(avroSchema,
            recs(keys(3, 4), 2.0, seq = 30L)
              ++ recs(keys(0), 1.0, seq = 50L, deleted = true))))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.1")}}}""")
        graft.sources.HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2",
          Seq(AvroBlockSpec(avroSchema,
            recs(keys(3, 4), 5.0, seq = 20L)
              ++ recs(keys(1), 4.0, seq = 25L)
              ++ recs(keys(2), 9.0, seq = 5L))))
        Files.writeString(Paths.get(root, ".hoodie", "003.deltacommit"),
          s"""{"partitionToWriteStats":{${stat(".g1_001.log.2")}}}""")
        root
      })
    }

  private val hudiMorPartMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the PARTITIONED MOR table q435 reads: partitions A and B
    * carry the SAME `_hoodie_record_key`s (Hudi's default non-global
    * index only guarantees per-partition uniqueness) — orders %10<3,
    * A at o_totalprice and B at ×10. Partition A's log upserts the
    * %10=1 keys at ×2 and HARD-deletes the %10=2 keys; partition B
    * must come through untouched, which only a merge keyed on
    * (partition, key) serves. Memoized per sf-dir. */
  private def authorHudiMorPartTable(s: SparkSession,
                                     dir: String): String =
    hudiMorPartMemo.synchronized {
      hudiMorPartMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/morpart_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=orders_mor_part\n" +
            "hoodie.table.type=MERGE_ON_READ\n")
        val src = Tables.df(s, dir, "orders")
          .filter(col("o_orderkey") % 10 < 3)
          .select(col("o_orderkey"), col("o_totalprice"))
        val stats = Seq(("A", 1.0), ("B", 10.0)).map { case (p, mult) =>
          LakeFiles.Local(root).parquet(
            src.select(col("o_orderkey").cast("string")
              .as("_hoodie_record_key"),
              lit(p).as("_hoodie_partition_path"), col("o_orderkey"),
              (col("o_totalprice") * mult).as("o_totalprice")),
            s"$p/g$p-0-0_001.parquet")
          s"${jstr(p)}:[{\"fileId\":${jstr(s"g$p")},\"path\":${
            jstr(s"$p/g$p-0-0_001.parquet")},\"numWrites\":1}]"
        }
        Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
          s"""{"partitionToWriteStats":{${stats.mkString(",")}}}""")
        val avroSchema =
          """{"type":"record","name":"r","fields":[
            | {"name":"_hoodie_record_key","type":"string"},
            | {"name":"_hoodie_partition_path","type":"string"},
            | {"name":"o_orderkey","type":"long"},
            | {"name":"o_totalprice","type":"double"},
            | {"name":"_hoodie_is_deleted","type":"boolean"}]}"""
            .stripMargin
        val upserts = src.filter(col("o_orderkey") % 10 === 1)
          .collect().toSeq.map { r =>
            Map[String, Any](
              "_hoodie_record_key" -> r.getLong(0).toString,
              "_hoodie_partition_path" -> "A",
              "o_orderkey" -> r.getLong(0),
              "o_totalprice" -> (r.getDouble(1) * 2),
              "_hoodie_is_deleted" -> false)
          }
        val delKeys = src.filter(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey")).collect().toSeq
          .map(r => r.getLong(0).toString -> Option("A"))
        graft.sources.HudiMorLite.writeLogBlocks(
          s"$root/A/.gA_001.log.1", Seq(
            graft.sources.HudiMorLite.AvroBlockSpec(avroSchema, upserts),
            graft.sources.HudiMorLite.DeleteBlockSpec(delKeys)))
        Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
          s"""{"partitionToWriteStats":{"A":[{"fileId":"gA","path":"A/.gA_001.log.1","numWrites":1}]}}""")
        root
      })
    }

  /** The lineitem-slice field ids every Iceberg fixture's metadata
    * declares — stamped into written parquet footers so the reader's
    * field-id resolution (the spec's column identity) has real ids to
    * match, exactly as genuine Iceberg writers do. */
  private val liFieldIds = Map("l_orderkey" -> 1, "l_quantity" -> 2,
    "l_extendedprice" -> 3, "l_returnflag" -> 4)

  private val icebergMemo = scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-snapshot Iceberg-spec lineitem table used by
    * q391/q392 (see q391's comment for the snapshot layout). Data
    * files carry ALL columns (Iceberg identity-partition convention);
    * manifests and manifest lists are genuine Avro written through
    * Spark's bundled Avro format; paths are a deliberate mix of
    * table-relative and file:-scheme absolute to exercise both
    * resolutions. Bounded driver-side scaffolding, memoized per
    * sf-dir. */
  private def authorIcebergTable(s: SparkSession, dir: String): String =
    icebergMemo.synchronized {
      icebergMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/li_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        // one parquet data file per batch, all columns in-file,
        // footers stamped with the metadata's field ids
        def dataFile(b: Int): String = {
          val out = s"data/b$b.parquet"
          LakeFiles.Local(root).parquet(graft.sources.IcebergLite
            .stampFieldIds(src.filter(col("l_orderkey") % 10 === b),
              liFieldIds), out)
          out
        }
        val (fa, fb, fc) = (dataFile(0), dataFile(1), dataFile(2))
        // single-file Avro writer (coalesce + move, temp dir removed)
        val lake = LakeFiles.Local(root)
        import s.implicits._
        def manifest(rel: String, entries: (Int, String)*): Unit =
          lake.avro(entries.toSeq.toDF("status", "file_path")
            .select(col("status"),
              struct(col("file_path"), lit(0).as("content"))
                .as("data_file")), rel)
        // snap 1: A+B added; snap 2: A tombstoned (status 2), B
        // re-listed as existing (status 0), C added
        manifest("metadata/m-ab.avro", (1, fa), (1, fb))
        manifest("metadata/m-a-del.avro", (2, fa))
        manifest("metadata/m-b.avro", (0, fb))
        manifest("metadata/m-c.avro", (1, fc))
        def manifestList(rel: String, paths: String*): Unit =
          lake.avro(paths.toSeq.toDF("manifest_path")
            .select(col("manifest_path"), lit(0).as("content")), rel)
        manifestList("metadata/snap-1.avro", "metadata/m-ab.avro")
        manifestList("metadata/snap-2.avro", "metadata/m-a-del.avro",
          "metadata/m-b.avro", s"file://$root/metadata/m-c.avro")
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          }.mkString("[", ",", "]")
        val metaJson =
          s"""{"format-version":2,"table-uuid":"graft-q391","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
             |"current-snapshot-id":2,
             |"refs":{"main":{"snapshot-id":2,"type":"branch"},
             |        "v1":{"snapshot-id":1,"type":"tag"}},
             |"snapshots":[
             | {"snapshot-id":1,"timestamp-ms":1000,"manifest-list":"metadata/snap-1.avro"},
             | {"snapshot-id":2,"timestamp-ms":2000,"manifest-list":${jstr(s"file://$root/metadata/snap-2.avro")}}
             |]}""".stripMargin
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          metaJson)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  private val icebergStatsMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the STATS-carrying Iceberg table q460/q461 read: one
    * snapshot whose data manifest records, per the spec's required
    * data_file fields, file_format / record_count /
    * file_size_in_bytes / partition (identity on m = l_orderkey%10).
    * Partition m=0 holds TWO files (l_quantity ≤ 25 and > 25), m=1
    * one — so `partitions` aggregates 2+1 files into 2 rows. Counts
    * and sizes are the REAL ones (spark counts + on-disk lengths).
    * Memoized per sf-dir. */
  private def authorIcebergStatsTable(s: SparkSession,
                                      dir: String): String =
    icebergStatsMemo.synchronized {
      icebergStatsMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/stats_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        // (name, m, rows, bytes) per data file — real counts + sizes
        def dataFile(name: String, m: Int,
                     filter: Column): (String, Int, Long, Long) = {
          val df = src.filter(filter)
          val n = df.count()
          LakeFiles.Local(root).parquet(
            graft.sources.IcebergLite.stampFieldIds(df, liFieldIds),
            s"data/$name")
          (s"data/$name", m, n, new java.io.File(s"$root/data/$name").length())
        }
        val files = Seq(
          dataFile("f0a.parquet", 0,
            col("l_orderkey") % 10 === 0 && col("l_quantity") <= 25),
          dataFile("f0b.parquet", 0,
            col("l_orderkey") % 10 === 0 && col("l_quantity") > 25),
          dataFile("f1.parquet", 1, col("l_orderkey") % 10 === 1))
        val lake = LakeFiles.Local(root)
        import s.implicits._
        lake.avro(files.toDF("file_path", "m", "rc", "bytes")
          .select(lit(1).as("status"),
            struct(col("file_path"), lit(0).as("content"),
              lit("PARQUET").as("file_format"),
              col("rc").as("record_count"),
              col("bytes").as("file_size_in_bytes"),
              struct(col("m")).as("partition")).as("data_file")),
          "metadata/m-stats.avro")
        lake.avro(Seq("metadata/m-stats.avro").toDF("manifest_path")
          .select(col("manifest_path"), lit(0).as("content")),
          "metadata/snap-1.avro")
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          }.mkString("[", ",", "]")
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          s"""{"format-version":2,"table-uuid":"graft-q460",
             |"location":${jstr(root)},"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
             |"current-snapshot-id":1,
             |"snapshots":[
             | {"snapshot-id":1,"timestamp-ms":1000,
             |  "manifest-list":"metadata/snap-1.avro"}
             |]}""".stripMargin)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  private val icebergDelMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-snapshot Iceberg table with a POSITIONAL delete
    * file used by q396. Snapshot 1 = batches A (l_orderkey%10=0) and
    * B (=1); snapshot 2 re-lists both data files and adds a delete
    * manifest (manifest-list content=1) whose delete parquet names
    * (file_path, pos) for every batch-A row with l_quantity > 25 —
    * ordinals read back from the data file itself via
    * `_metadata.row_index`, and file_path spelled file://-absolute to
    * exercise path canonicalization against `_metadata.file_path`.
    * Bounded driver-side scaffolding, memoized per sf-dir. */
  private def authorIcebergDeleteTable(s: SparkSession,
                                       dir: String): String =
    icebergDelMemo.synchronized {
      icebergDelMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/posdel_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        def dataFile(b: Int): String = {
          val out = s"data/b$b.parquet"
          LakeFiles.Local(root).parquet(graft.sources.IcebergLite
            .stampFieldIds(src.filter(col("l_orderkey") % 10 === b),
              liFieldIds), out)
          out
        }
        val (fa, fb) = (dataFile(0), dataFile(1))
        val lake = LakeFiles.Local(root)
        import s.implicits._
        // positional delete parquet: dead ordinals of batch A, derived
        // from the REAL file so authoring can't drift from the data
        val fdel = "data/del-a.parquet"
        LakeFiles.stage(s.read.parquet(s"$root/$fa")
          .select(lit(s"file://$root/$fa").as("file_path"),
            col("_metadata.row_index").as("pos"),
            col("l_quantity"))
          .filter(col("l_quantity") > 25).drop("l_quantity"), "parquet",
          new java.io.File(s"$root/_tmpdel"),
          new java.io.File(s"$root/$fdel"))

        def manifest(rel: String, content: Int,
                     entries: (Int, String)*): Unit =
          lake.avro(entries.toSeq.toDF("status", "file_path")
            .select(col("status"),
              struct(col("file_path"), lit(content).as("content"))
                .as("data_file")), rel)
        manifest("metadata/m-ab.avro", 0, (1, fa), (1, fb))
        manifest("metadata/m-ab2.avro", 0, (0, fa), (0, fb))
        manifest("metadata/m-del.avro", 1, (1, fdel))
        def manifestList(rel: String,
                         paths: (String, Int)*): Unit =
          lake.avro(paths.toSeq.toDF("manifest_path", "content"), rel)
        manifestList("metadata/snap-1.avro", "metadata/m-ab.avro" -> 0)
        manifestList("metadata/snap-2.avro", "metadata/m-ab2.avro" -> 0,
          "metadata/m-del.avro" -> 1)
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          }.mkString("[", ",", "]")
        val metaJson =
          s"""{"format-version":2,"table-uuid":"graft-q396","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
             |"current-snapshot-id":2,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"},
             | {"snapshot-id":2,"manifest-list":"metadata/snap-2.avro"}
             |]}""".stripMargin
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          metaJson)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  private val icebergRenameMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MID-HISTORY-RENAMED Iceberg table used by q425:
    * snapshot 1 adds batch A (l_orderkey%10=0) written under the
    * ORIGINAL column name `l_returnflag`; the metadata then evolves to
    * schema-id 1 renaming field 4 to `l_flag` (same field id — the
    * spec's rename is a name change over a stable id), and snapshot 2
    * adds batch B (=1) written under the NEW name. The current
    * snapshot thus mixes old- and new-named parquet files, and only
    * field-id resolution reads both correctly — name resolution would
    * silently null batch A's flag column. Memoized per sf-dir. */
  private def authorIcebergRenameTable(s: SparkSession,
                                       dir: String): String =
    icebergRenameMemo.synchronized {
      icebergRenameMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/ren_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val lake = LakeFiles.Local(root)
        val stamp = graft.sources.IcebergLite.stampFieldIds _
        // batch A under the ORIGINAL name, batch B under the NEW one —
        // both carrying the SAME field ids in their footers
        lake.parquet(stamp(src.filter(col("l_orderkey") % 10 === 0),
          liFieldIds), "data/a.parquet")
        lake.parquet(stamp(src.filter(col("l_orderkey") % 10 === 1)
          .withColumnRenamed("l_returnflag", "l_flag"),
          liFieldIds - "l_returnflag" + ("l_flag" -> 4)),
          "data/b.parquet")
        import s.implicits._
        def manifest(rel: String, entries: (Int, String)*): Unit =
          lake.avro(entries.toSeq.toDF("status", "file_path")
            .select(col("status"),
              struct(col("file_path"), lit(0).as("content"))
                .as("data_file")), rel)
        manifest("metadata/m-a.avro", (1, "data/a.parquet"))
        manifest("metadata/m-b.avro", (1, "data/b.parquet"))
        def manifestList(rel: String, paths: String*): Unit =
          lake.avro(paths.toSeq.toDF("manifest_path")
            .select(col("manifest_path"), lit(0).as("content")), rel)
        manifestList("metadata/snap-1.avro", "metadata/m-a.avro")
        manifestList("metadata/snap-2.avro", "metadata/m-a.avro",
          "metadata/m-b.avro")
        def fields(flagName: String): String = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, flagName, "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          }.mkString("[", ",", "]")
        val metaJson =
          s"""{"format-version":2,"table-uuid":"graft-q425","location":${jstr(root)},
             |"current-schema-id":1,
             |"schemas":[
             | {"schema-id":0,"type":"struct","fields":${fields("l_returnflag")}},
             | {"schema-id":1,"type":"struct","fields":${fields("l_flag")}}],
             |"current-snapshot-id":2,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"},
             | {"snapshot-id":2,"manifest-list":"metadata/snap-2.avro"}
             |]}""".stripMargin
        Files.writeString(Paths.get(root, "metadata", "v2.metadata.json"),
          metaJson)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "2")
        root
      })
    }

  private val deltaCloneMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the SHALLOW-CLONE Delta table q439 reads: a fresh root
    * whose single commit re-lists the q389 source table's CURRENT
    * live files as absolute percent-encoded `file:` URIs — exactly
    * what `CREATE TABLE ... SHALLOW CLONE` writes. No data files are
    * copied. Memoized per sf-dir. */
  private def authorDeltaCloneTable(s: SparkSession, dir: String): String =
    deltaCloneMemo.synchronized {
      deltaCloneMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val srcRoot = authorDeltaTable(s, dir)
        val root =
          s"/tmp/graft_delta/clone_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        val snap = graft.sources.DeltaLogLite.snapshot(s, srcRoot)
        val metaData =
          s"""{"metaData":{"id":"graft-q439","format":{"provider":"parquet","options":{}},"schemaString":${
            jstr(snap.schema.json)},"partitionColumns":["l_returnflag"],"configuration":{},"createdTime":0}}"""
        // source add.path values are already percent-encoded relative
        // URIs; prefixing the file:-scheme source root keeps them
        // spec-valid absolute URIs
        val adds = snap.files.map { f =>
          val pv = f.partitionValues.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
            .mkString("{", ",", "}")
          s"""{"add":{"path":${jstr(s"file://$srcRoot/${f.path}")},"partitionValues":$pv,"size":1,"modificationTime":0,"dataChange":true}}"""
        }
        Files.writeString(Paths.get(root, "_delta_log",
          f"${0L}%020d.json"),
          (metaData +: adds).mkString("", "\n", "\n"))
        root
      })
    }

  private val icebergNameMapMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MIGRATED Iceberg table used by q436: batch A
    * (l_orderkey%10=0) is an ID-LESS parquet file carrying the
    * PRE-MIGRATION column names (orderkey/quantity/extendedprice/
    * returnflag — what a Hive/raw-parquet import leaves behind);
    * batch B (=1) is a normal id-stamped file under the current
    * names. The metadata's `schema.name-mapping.default` property
    * (the spec's migration surface) assigns each field id both
    * spellings, so A reads through the mapped-name leg and B through
    * the field-id leg. Without the property, A's id-less footer
    * refuses — the mapping-less refusal q425's machinery relies on
    * stays. Memoized per sf-dir. */
  private def authorIcebergNameMapTable(s: SparkSession,
                                        dir: String): String =
    icebergNameMapMemo.synchronized {
      icebergNameMapMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/nmap_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val lake = LakeFiles.Local(root)
        val oldNames = Map("l_orderkey" -> "orderkey",
          "l_quantity" -> "quantity",
          "l_extendedprice" -> "extendedprice",
          "l_returnflag" -> "returnflag")
        // batch A: OLD names, metadata force-EMPTIED so the parquet
        // writer stamps no field ids (the migrated-file shape)
        lake.parquet(src.filter(col("l_orderkey") % 10 === 0)
          .select(src.columns.toSeq.map(c => col(c).as(oldNames(c),
            org.apache.spark.sql.types.Metadata.empty)): _*),
          "data/a.parquet")
        lake.parquet(graft.sources.IcebergLite.stampFieldIds(
          src.filter(col("l_orderkey") % 10 === 1), liFieldIds),
          "data/b.parquet")
        import s.implicits._
        lake.avro(Seq((1, "data/a.parquet"), (1, "data/b.parquet"))
          .toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")), "metadata/m-1.avro")
        lake.avro(Seq("metadata/m-1.avro").toDF("manifest_path")
          .select(col("manifest_path"), lit(0).as("content")),
          "metadata/snap-1.avro")
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
        val fieldsJson = fields.map { case (i, n, t) =>
          s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
        }.mkString("[", ",", "]")
        val mappingJson = fields.map { case (i, n, _) =>
          s"""{"field-id":$i,"names":[${jstr(oldNames(n))},${jstr(n)}]}"""
        }.mkString("[", ",", "]")
        val metaJson =
          s"""{"format-version":2,"table-uuid":"graft-q436","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fieldsJson}],
             |"properties":{"schema.name-mapping.default":${jstr(mappingJson)}},
             |"current-snapshot-id":1,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
             |]}""".stripMargin
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          metaJson)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  private val icebergNmapDelMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the MIGRATED-table-with-deletes Iceberg table q446
    * reads: batch A (l_orderkey%10=0) is ID-LESS under pre-migration
    * names, batch B (=1) id-stamped under current names (q436's
    * shape), and a LATER v2 writer added two delete files at sequence
    * 2 — a POSITIONAL delete naming batch A's l_quantity<=5 row
    * ordinals (read back from the file, like the DV fixtures) and an
    * EQUALITY delete on field id 1 naming every l_orderkey with
    * l_quantity>40 from either batch. The deletes must reach the
    * mapped id-less leg and the field-id leg alike. Memoized per
    * sf-dir. */
  private def authorIcebergMappedDeleteTable(s: SparkSession,
                                             dir: String): String =
    icebergNmapDelMemo.synchronized {
      icebergNmapDelMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/nmapdel_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val lake = LakeFiles.Local(root)
        val oldNames = Map("l_orderkey" -> "orderkey",
          "l_quantity" -> "quantity",
          "l_extendedprice" -> "extendedprice",
          "l_returnflag" -> "returnflag")
        // batch A: OLD names, no field ids (the migrated-file shape)
        lake.parquet(src.filter(col("l_orderkey") % 10 === 0)
          .select(src.columns.toSeq.map(c => col(c).as(oldNames(c),
            org.apache.spark.sql.types.Metadata.empty)): _*),
          "data/a.parquet")
        lake.parquet(graft.sources.IcebergLite.stampFieldIds(
          src.filter(col("l_orderkey") % 10 === 1), liFieldIds),
          "data/b.parquet")
        // positional delete: batch A's l_quantity<=5 row ordinals,
        // read back from the written file (bounded fixture collect)
        import s.implicits._
        val aPath = s"$root/data/a.parquet"
        val deadPos = s.read.parquet(aPath)
          .select(col("_metadata.row_index"))
          .where(col("quantity") <= 5)
          .as[Long].collect().toSeq.sorted
        lake.parquet(deadPos.map(p => (aPath, p)).toDF("file_path", "pos"),
          "data/pos.parquet")
        // equality delete on l_orderkey (field id 1): keys with any
        // l_quantity>40 in either batch
        lake.parquet(graft.sources.IcebergLite.stampFieldIds(
          src.filter(col("l_orderkey") % 10 < 2)
            .filter(col("l_quantity") > 40)
            .select(col("l_orderkey")).distinct(),
          Map("l_orderkey" -> 1)), "data/eq.parquet")
        def manifest(rel: String, path: String, content: Int,
                     eqIds: Seq[Int]): Unit =
          lake.avro(Seq((1, path)).toDF("status", "file_path")
            .select(col("status"),
              lit(null).cast("long").as("sequence_number"),
              struct(col("file_path"), lit(content).as("content"),
                (if (eqIds.isEmpty) lit(null).cast("array<int>")
                 else array(eqIds.map(lit(_)): _*)).as("equality_ids"))
                .as("data_file")), rel)
        manifest("metadata/m-a.avro", "data/a.parquet", 0, Nil)
        manifest("metadata/m-b.avro", "data/b.parquet", 0, Nil)
        manifest("metadata/m-pos.avro", "data/pos.parquet", 1, Nil)
        manifest("metadata/m-eq.avro", "data/eq.parquet", 2, Seq(1))
        lake.avro(Seq(("metadata/m-a.avro", 0, 1L),
          ("metadata/m-b.avro", 0, 1L),
          ("metadata/m-pos.avro", 1, 2L),
          ("metadata/m-eq.avro", 1, 2L))
          .toDF("manifest_path", "content", "sequence_number"),
          "metadata/snap-1.avro")
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
        val fieldsJson = fields.map { case (i, n, t) =>
          s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
        }.mkString("[", ",", "]")
        val mappingJson = fields.map { case (i, n, _) =>
          s"""{"field-id":$i,"names":[${jstr(oldNames(n))},${jstr(n)}]}"""
        }.mkString("[", ",", "]")
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          s"""{"format-version":2,"table-uuid":"graft-q446","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fieldsJson}],
             |"properties":{"schema.name-mapping.default":${jstr(mappingJson)}},
             |"current-snapshot-id":1,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
             |]}""".stripMargin)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  private val icebergDefMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the v3 INITIAL-DEFAULT table q451 reads: batch A
    * (l_orderkey%10=0) written BEFORE column l_bonus (id 5,
    * initial-default 7) existed — its footer lacks the id, so every A
    * row must read 7; batch B (=1) written after, storing
    * l_bonus = l_orderkey%5. Memoized per sf-dir. */
  private def authorIcebergDefaultTable(s: SparkSession,
                                        dir: String): String =
    icebergDefMemo.synchronized {
      icebergDefMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/def_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val lake = LakeFiles.Local(root)
        val stamp = graft.sources.IcebergLite.stampFieldIds _
        lake.parquet(stamp(src.filter(col("l_orderkey") % 10 === 0),
          liFieldIds), "data/a.parquet")
        lake.parquet(stamp(src.filter(col("l_orderkey") % 10 === 1)
          .withColumn("l_bonus", col("l_orderkey") % 5),
          liFieldIds + ("l_bonus" -> 5)), "data/b.parquet")
        import s.implicits._
        lake.avro(Seq((1, "data/a.parquet"), (1, "data/b.parquet"))
          .toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")), "metadata/m-1.avro")
        lake.avro(Seq("metadata/m-1.avro").toDF("manifest_path")
          .select(col("manifest_path"), lit(0).as("content")),
          "metadata/snap-1.avro")
        val fields = (Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          } :+
          """{"id":5,"name":"l_bonus","required":false,"type":"long","initial-default":7}""")
          .mkString("[", ",", "]")
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          s"""{"format-version":3,"table-uuid":"graft-q451","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
             |"current-snapshot-id":1,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
             |]}""".stripMargin)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  private val icebergDvMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the FORMAT-V3 Iceberg table q447 reads: one data file
    * (lineitem %10=0) plus a Puffin file holding ONE
    * deletion-vector-v1 blob marking every l_quantity>35 row ordinal
    * dead (ordinals read back from the written file, like the Delta
    * DV fixtures). The delete manifest entry carries the v3 surface —
    * content=1 + referenced_data_file + content_offset/
    * content_size_in_bytes + record_count — and the blob rides the
    * published framing ([inner len BE][magic LE][portable roaring]
    * [CRC-32 BE]) inside a PFA1-framed file. Memoized per sf-dir. */
  private def authorIcebergDvTable(s: SparkSession, dir: String): String =
    icebergDvMemo.synchronized {
      icebergDvMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/dv3_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter(col("l_orderkey") % 10 === 0)
        LakeFiles.Local(root).parquet(
          graft.sources.IcebergLite.stampFieldIds(src, liFieldIds),
          "data/a.parquet")
        // dead ordinals from the REAL file (authoring cannot drift)
        val dead = s.read.parquet(s"$root/data/a.parquet")
          .filter(col("l_quantity") > 35)
          .select(col("_metadata.row_index")).collect()
          .map(_.getLong(0)).sorted
        val (puffin, contentSize) = puffinDvBytes(dead.toSeq)
        Files.write(Paths.get(root, "data", "dv.puffin"), puffin)
        val lake = LakeFiles.Local(root)
        import s.implicits._
        lake.avro(Seq((1, "data/a.parquet")).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")), "metadata/m-data.avro")
        lake.avro(Seq((1, "data/dv.puffin", 1, "data/a.parquet", 4L,
          contentSize, dead.length.toLong))
          .toDF("status", "file_path", "content", "referenced_data_file",
            "content_offset", "content_size_in_bytes", "record_count")
          .select(col("status"),
            struct(col("file_path"), col("content"),
              col("referenced_data_file"), col("content_offset"),
              col("content_size_in_bytes"), col("record_count"))
              .as("data_file")), "metadata/m-dv.avro")
        lake.avro(Seq(("metadata/m-data.avro", 0),
          ("metadata/m-dv.avro", 1)).toDF("manifest_path", "content"),
          "metadata/snap-1.avro")
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          }.mkString("[", ",", "]")
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          s"""{"format-version":3,"table-uuid":"graft-q447","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
             |"current-snapshot-id":1,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
             |]}""".stripMargin)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  private val deltaDvMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** RFC-1924 base85 ENCODE (inverse of DeltaLogLite.base85Decode) —
    * used to author q424's `u`-storage deletion-vector id. */
  private def base85Encode(bytes: Array[Byte]): String = {
    val alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
    require(bytes.length % 4 == 0)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val sb = new StringBuilder
    while (bb.hasRemaining) {
      var acc = bb.getInt.toLong & 0xffffffffL
      val grp = new Array[Char](5)
      for (i <- 4 to 0 by -1) {
        grp(i) = alphabet((acc % 85).toInt); acc /= 85
      }
      sb.appendAll(grp)
    }
    sb.toString
  }

  /** Authors the deletion-vector Delta table used by q424: commit 0
    * adds batch A (l_orderkey%10 ∈ {0,1}); commit 1 re-adds it with a
    * `u`-storage deletion vector — a REAL roaring-bitmap `.bin` file
    * (version byte, big-endian size frame, little-endian magic,
    * RoaringBitmapArray portable payload, CRC32) marking every
    * l_quantity > 25 ordinal dead, ordinals read back from the file
    * itself via _metadata.row_index. Protocol: reader version 3 +
    * the deletionVectors feature. Memoized per sf-dir. */
  private def authorDeltaDvTable(s: SparkSession, dir: String): String =
    deltaDvMemo.synchronized {
      deltaDvMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_delta/dv_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.createDirectories(Paths.get(root, "data"))
        val a = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1))
        LakeFiles.Local(root).parquet(a, "data/a.parquet")
        // dead ordinals from the REAL file (authoring cannot drift)
        val dead = s.read.parquet(s"$root/data/a.parquet")
          .filter(col("l_quantity") > 25)
          .select(col("_metadata.row_index")).collect()
          .map(_.getLong(0)).sorted
        val (framed, dataLen) = deltaDvFileBytes(dead.toSeq)
        val uuid = java.util.UUID.nameUUIDFromBytes(
          "graft-q424".getBytes("UTF-8"))
        Files.write(Paths.get(root, s"deletion_vector_$uuid.bin"), framed)
        val uuidBytes = java.nio.ByteBuffer.allocate(16)
        uuidBytes.putLong(uuid.getMostSignificantBits)
        uuidBytes.putLong(uuid.getLeastSignificantBits)
        val dvId = base85Encode(uuidBytes.array())
        val dvJson =
          s"""{"storageType":"u","pathOrInlineDv":${jstr(dvId)},"offset":1,"sizeInBytes":$dataLen,"cardinality":${dead.length}}"""
        val metaData =
          s"""{"metaData":{"id":"graft-q424","format":{"provider":"parquet","options":{}},"schemaString":${jstr(a.schema.json)},"partitionColumns":[],"configuration":{},"createdTime":0}}"""
        Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
          Seq(
            """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
            metaData,
            """{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
            .mkString("", "\n", "\n"))
        Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
          s"""{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":$dvJson}}""" + "\n")
        root
      })
    }

  private val deltaV2CkptMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the V2-CHECKPOINTED Delta table used by q428: versions
    * 0/1 added batches A (l_orderkey%10=0) and B (=1), were
    * checkpointed at version 1 as a UUID-named MANIFEST (protocol +
    * metaData + checkpointMetadata + two sidecar actions) with the
    * add actions split across two parquet SIDECARS under
    * _delta_log/_sidecars/, and their JSON commits were then vacuumed
    * — so the snapshot state is reconstructible ONLY through the v2
    * path. Commit 2 JSON-appends batch C (=2). Protocol: reader
    * version 3 + the v2Checkpoint feature. Memoized per sf-dir. */
  private def authorDeltaV2CkptTable(s: SparkSession, dir: String): String =
    deltaV2CkptMemo.synchronized {
      deltaV2CkptMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_delta/v2ck_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log", "_sidecars"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val lake = LakeFiles.Local(root)
        for (b <- 0 to 2)
          lake.parquet(src.filter(col("l_orderkey") % 10 === b),
            s"data/b$b.parquet")
        // two sidecars: one add action each (the file actions live
        // ONLY here — the manifest carries none)
        val addT = "struct<path:string,partitionValues:map<string,string>>"
        def sidecar(rel: String, path: String): Unit =
          lake.parquet(s.range(1).select(
            struct(lit(path).as("path"),
              map().cast("map<string,string>").as("partitionValues"))
              .as("add")), rel)
        sidecar("_delta_log/_sidecars/sc-a.parquet", "data/b0.parquet")
        sidecar("_delta_log/_sidecars/sc-b.parquet", "data/b1.parquet")
        // the manifest: protocol + metaData + checkpointMetadata +
        // 2 sidecar rows, column-per-action-type like real writers
        val metaT = "struct<schemaString:string," +
          "partitionColumns:array<string>>"
        val protoT = "struct<minReaderVersion:int," +
          "readerFeatures:array<string>>"
        val ckT = "struct<version:bigint>"
        val scT = "struct<path:string>"
        def row(meta: org.apache.spark.sql.Column,
                proto: org.apache.spark.sql.Column,
                ck: org.apache.spark.sql.Column,
                sc: org.apache.spark.sql.Column,
                add: org.apache.spark.sql.Column) =
          s.range(1).select(meta.cast(metaT).as("metaData"),
            proto.cast(protoT).as("protocol"), ck.cast(ckT)
              .as("checkpointMetadata"), sc.cast(scT).as("sidecar"),
            add.cast(addT).as("add"))
        val nul = lit(null)
        val manifestDf =
          row(struct(lit(src.schema.json).as("schemaString"),
            array().cast("array<string>").as("partitionColumns")),
            nul, nul, nul, nul)
          .unionAll(row(nul, struct(lit(3).as("minReaderVersion"),
            array(lit("v2Checkpoint")).as("readerFeatures")),
            nul, nul, nul))
          .unionAll(row(nul, nul, struct(lit(1L).as("version")),
            nul, nul))
          .unionAll(row(nul, nul, nul,
            struct(lit("sc-a.parquet").as("path")), nul))
          .unionAll(row(nul, nul, nul,
            struct(lit("sc-b.parquet").as("path")), nul))
        lake.parquet(manifestDf,
          s"_delta_log/${f"${1L}%020d"}.checkpoint." +
            "80a083e8-7026-4e79-81be-64bd76c43a11.parquet")
        Files.writeString(
          Paths.get(root, "_delta_log", "_last_checkpoint"),
          """{"version":1}""")
        // commit 2: plain JSON append of batch C (post-checkpoint)
        Files.writeString(Paths.get(root, "_delta_log", f"${2L}%020d.json"),
          s"""{"add":{"path":"data/b2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n")
        root
      })
    }

  private val deltaCdfMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the CDF-enabled Delta table used by q420: commit 0
    * blind-appends batch A (l_orderkey%10 ∈ {0,1}); commit 1 updates
    * the l_quantity > 40 rows (doubling l_extendedprice), writing the
    * protocol's cdc file (preimage+postimage rows with _change_type
    * in-file) alongside the rewrite's add/remove. Memoized per
    * sf-dir. */
  private def authorDeltaCdfTable(s: SparkSession, dir: String): String =
    deltaCdfMemo.synchronized {
      deltaCdfMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_delta/cdf_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.createDirectories(Paths.get(root, "data"))
        Files.createDirectories(Paths.get(root, "_change_data"))
        val a = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1))
        val lake = LakeFiles.Local(root)
        lake.parquet(a, "data/a.parquet")
        val pre = a.filter(col("l_quantity") > 40)
        val post = pre.withColumn("l_extendedprice",
          col("l_extendedprice") * 2)
        // the post-update table state (for snapshot consistency)
        lake.parquet(a.filter(col("l_quantity") <= 40).unionByName(post),
          "data/a2.parquet")
        // the protocol's cdc file: preimage + postimage rows with
        // _change_type carried IN the file
        lake.parquet(
          pre.withColumn("_change_type", lit("update_preimage"))
            .unionByName(post.withColumn("_change_type",
              lit("update_postimage"))),
          "_change_data/cdc-1.parquet")
        val metaData =
          s"""{"metaData":{"id":"graft-q420","format":{"provider":"parquet","options":{}},"schemaString":${jstr(a.schema.json)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
        Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
          Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
            metaData,
            s"""{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
            .mkString("", "\n", "\n"))
        Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
          Seq(
            s"""{"cdc":{"path":"_change_data/cdc-1.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
            s"""{"remove":{"path":"data/a.parquet","deletionTimestamp":0,"dataChange":true}}""",
            s"""{"add":{"path":"data/a2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
            .mkString("", "\n", "\n"))
        root
      })
    }

  private val deltaCdfMapMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the COLUMN-MAPPED CDF table q456 reads: q420's change
    * history, but the table runs columnMapping mode=name — data AND
    * cdc files store the physical spellings (pk/pq/pe/pf) while
    * `_change_type` keeps its literal name, exactly as a mapped CDF
    * writer lays it out. Memoized per sf-dir. */
  private def authorDeltaCdfMapTable(s: SparkSession,
                                     dir: String): String =
    deltaCdfMapMemo.synchronized {
      deltaCdfMapMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_delta/cdfmap_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.createDirectories(Paths.get(root, "data"))
        Files.createDirectories(Paths.get(root, "_change_data"))
        val phys = Map("l_orderkey" -> "pk", "l_quantity" -> "pq",
          "l_extendedprice" -> "pe", "l_returnflag" -> "pf")
        val a = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1))
        def toPhys(df: DataFrame): DataFrame =
          df.select(df.columns.toSeq.map(c =>
            col(c).as(phys.getOrElse(c, c))): _*)
        val lake = LakeFiles.Local(root)
        lake.parquet(toPhys(a), "data/a.parquet")
        val pre = a.filter(col("l_quantity") > 40)
        val post = pre.withColumn("l_extendedprice",
          col("l_extendedprice") * 2)
        lake.parquet(toPhys(a.filter(col("l_quantity") <= 40)
          .unionByName(post)), "data/a2.parquet")
        lake.parquet(toPhys(
          pre.withColumn("_change_type", lit("update_preimage"))
            .unionByName(post.withColumn("_change_type",
              lit("update_postimage")))),
          "_change_data/cdc-1.parquet")
        val fields = a.schema.fields.toSeq.map { f =>
          s"""{"name":${jstr(f.name)},"type":${jstr(
            f.dataType.typeName)},"nullable":true,"metadata":{"delta.columnMapping.physicalName":${jstr(phys(f.name))}}}"""
        }.mkString("[", ",", "]")
        val schemaJson = s"""{"type":"struct","fields":$fields}"""
        val metaData =
          s"""{"metaData":{"id":"graft-q456","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schemaJson)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
        Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
          Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
            metaData,
            s"""{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
            .mkString("", "\n", "\n"))
        Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
          Seq(
            s"""{"cdc":{"path":"_change_data/cdc-1.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
            s"""{"remove":{"path":"data/a.parquet","deletionTimestamp":0,"dataChange":true}}""",
            s"""{"add":{"path":"data/a2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
            .mkString("", "\n", "\n"))
        root
      })
    }

  /** Frame one Delta deletion-vector FILE for a single 32-bit roaring
    * bitmap of dead ordinals — [version 1][BE size][LE magic 1681511377
    * + RoaringBitmapArray portable (count=1, key=0, bitmap)][CRC32].
    * Returns (framed file bytes, inner data length — the descriptor's
    * sizeInBytes). */
  private def deltaDvFileBytes(dead: Seq[Long]): (Array[Byte], Int) = {
    val bmp = new org.roaringbitmap.RoaringBitmap()
    dead.foreach(p => bmp.add(p.toInt))
    val bos = new java.io.ByteArrayOutputStream()
    val header = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    header.putInt(1681511377) // magic
    header.putLong(1L)        // one 32-bit bitmap
    header.putInt(0)          // key (high 32 bits)
    bos.write(header.array())
    val dos = new java.io.DataOutputStream(bos)
    bmp.serialize(dos)
    dos.flush()
    val data = bos.toByteArray
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val framed = java.nio.ByteBuffer.allocate(1 + 4 + data.length + 4)
    framed.put(1.toByte)          // file version
    framed.putInt(data.length)    // big-endian size
    framed.put(data)
    framed.putInt(crc.getValue.toInt)
    (framed.array(), data.length)
  }

  /** Frame one ICEBERG Puffin file holding a single deletion-vector-v1
    * blob for the given dead ordinals — leading "PFA1" magic, then the
    * blob ([BE size][LE magic 1681511377 + RoaringBitmapArray portable
    * (count=1, key=0, bitmap)][CRC32]), then a trailing "PFA1" (the
    * footer region the lite reader never parses — the manifest's
    * content_offset/content_size address the blob directly). Returns
    * (file bytes, the manifest's content_size_in_bytes — size field +
    * data + CRC). content_offset is always 4 (right after the magic). */
  private def puffinDvBytes(dead: Seq[Long]): (Array[Byte], Long) = {
    val bmp = new org.roaringbitmap.RoaringBitmap()
    dead.foreach(p => bmp.add(p.toInt))
    val bos = new java.io.ByteArrayOutputStream()
    val header = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    header.putInt(1681511377) // magic
    header.putLong(1L)        // one 32-bit bitmap
    header.putInt(0)          // key (high 32 bits)
    bos.write(header.array())
    val dos = new java.io.DataOutputStream(bos)
    bmp.serialize(dos)
    dos.flush()
    val data = bos.toByteArray
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val blob = java.nio.ByteBuffer.allocate(4 + data.length + 4)
    blob.putInt(data.length)
    blob.put(data)
    blob.putInt(crc.getValue.toInt)
    ("PFA1".getBytes("UTF-8") ++ blob.array() ++
      "PFA1".getBytes("UTF-8"), (data.length + 8).toLong)
  }

  private val deltaCdfSynthMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the cdc-LESS CDF table q464 reads — every change class
    * the protocol's synthesis fallback covers. Commit 0 blind-appends
    * batches A (l_orderkey%10=0 → data/a.parquet) and B (%10=1 →
    * data/b.parquet); commit 1 is a FILE-level delete (a pure remove
    * of b.parquet — the shape a partition/file TRUNCATE writes);
    * commit 2 row-level-deletes A's l_quantity>25 rows via a first
    * deletion vector (remove + re-add of a.parquet); commit 3 GROWS
    * the vector to also kill l_quantity<3 — its net change is ONLY
    * the newly-dead rows. No commit writes cdc files, so every change
    * row must be synthesized from the add/remove actions. Memoized
    * per sf-dir. */
  private def authorDeltaCdfSynthTable(s: SparkSession,
                                       dir: String): String =
    deltaCdfSynthMemo.synchronized {
      deltaCdfSynthMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_delta/cdfsynth_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val lake = LakeFiles.Local(root)
        val a = src.filter(col("l_orderkey") % 10 === 0)
        lake.parquet(a, "data/a.parquet")
        lake.parquet(src.filter(col("l_orderkey") % 10 === 1),
          "data/b.parquet")
        // dead ordinals from the REAL file (authoring cannot drift)
        def deadWhere(c: org.apache.spark.sql.Column): Seq[Long] =
          s.read.parquet(s"$root/data/a.parquet").filter(c)
            .select(col("_metadata.row_index")).collect()
            .map(_.getLong(0)).sorted.toSeq
        val dead1 = deadWhere(col("l_quantity") > 25)
        val dead2 = deadWhere(col("l_quantity") > 25 ||
          col("l_quantity") < 3)
        def dvJson(name: String, dead: Seq[Long]): String = {
          val (framed, dataLen) = deltaDvFileBytes(dead)
          Files.write(Paths.get(root, name), framed)
          s"""{"storageType":"p","pathOrInlineDv":${jstr(s"$root/$name")},"offset":1,"sizeInBytes":$dataLen,"cardinality":${dead.length}}"""
        }
        val dv1 = dvJson("dv1.bin", dead1)
        val dv2 = dvJson("dv2.bin", dead2)
        def addA(dv: Option[String]): String =
          s"""{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true""" +
            dv.map(j => s""","deletionVector":$j""").getOrElse("") + "}}"
        def removeA(dv: Option[String]): String =
          s"""{"remove":{"path":"data/a.parquet","deletionTimestamp":0,"dataChange":true""" +
            dv.map(j => s""","deletionVector":$j""").getOrElse("") + "}}"
        val metaData =
          s"""{"metaData":{"id":"graft-q464","format":{"provider":"parquet","options":{}},"schemaString":${jstr(a.schema.json)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
        Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
          Seq(
            """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
            metaData, addA(None),
            """{"add":{"path":"data/b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
            .mkString("", "\n", "\n"))
        Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
          """{"remove":{"path":"data/b.parquet","deletionTimestamp":0,"dataChange":true}}""" + "\n")
        Files.writeString(Paths.get(root, "_delta_log", f"${2L}%020d.json"),
          Seq(removeA(None), addA(Some(dv1))).mkString("", "\n", "\n"))
        Files.writeString(Paths.get(root, "_delta_log", f"${3L}%020d.json"),
          Seq(removeA(Some(dv1)), addA(Some(dv2)))
            .mkString("", "\n", "\n"))
        root
      })
    }

  private val paimonOrcMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the one-snapshot ORC Paimon table used by q418 (batches
    * l_orderkey%10 ∈ {0,1} as a single genuine ORC data file —
    * Paimon's default file.format). Memoized per sf-dir. */
  private def authorPaimonOrcTable(s: SparkSession, dir: String): String =
    paimonOrcMemo.synchronized {
      paimonOrcMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_paimon/orc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
          Files.createDirectories(Paths.get(root, d))
        LakeFiles.stage(Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1)), "orc",
          new java.io.File(s"$root/_tmp"),
          new java.io.File(s"$root/bucket-0/data.orc"))
        val lake = LakeFiles.Local(root)
        import s.implicits._
        lake.avro(Seq((0, "data.orc")).toDF("_KIND", "_fn")
          .select(col("_KIND"), lit(0).as("_BUCKET"),
            struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
          "manifest/m-orc.avro")
        lake.avro(Seq.empty[String].toDF("_FILE_NAME"),
          "manifest/ml-empty.avro")
        lake.avro(Seq("m-orc.avro").toDF("_FILE_NAME"),
          "manifest/ml-orc.avro")
        Files.writeString(Paths.get(root, "schema", "schema-0"),
          """{"id":0,"fields":[
            | {"id":0,"name":"l_orderkey","type":"BIGINT"},
            | {"id":1,"name":"l_quantity","type":"DOUBLE"},
            | {"id":2,"name":"l_extendedprice","type":"DOUBLE"},
            | {"id":3,"name":"l_returnflag","type":"STRING"}],
            |"highestFieldId":3,"partitionKeys":[],"primaryKeys":[],
            |"options":{"file.format":"orc"}}""".stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
          """{"version":3,"id":1,"schemaId":0,
            |"baseManifestList":"ml-empty.avro",
            |"deltaManifestList":"ml-orc.avro",
            |"commitKind":"APPEND","commitUser":"graft",
            |"commitIdentifier":1,"timeMillis":0}""".stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
        root
      })
    }

  private val hudiOrcMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the one-instant ORC-base Hudi COW table used by q419
    * (hoodie.table.base.file.format=ORC; one genuine ORC base file
    * per l_returnflag group holding batches %10 ∈ {0,1}). Memoized
    * per sf-dir. */
  private def authorHudiOrcTable(s: SparkSession, dir: String): String =
    hudiOrcMemo.synchronized {
      hudiOrcMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_hudi/orc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, ".hoodie"))
        Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
          "hoodie.table.name=lineitem_orc\n" +
            "hoodie.table.type=COPY_ON_WRITE\n" +
            "hoodie.table.base.file.format=ORC\n")
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1))
        val flags = src.select(col("l_returnflag")).distinct()
          .collect().map(_.getString(0)).sorted
        val stats = flags.map { rf =>
          val part = s"l_returnflag=$rf"
          val rel = s"$part/g-${rf}_0-0_001.orc"
          LakeFiles.stage(src.filter(col("l_returnflag") === rf), "orc",
            new java.io.File(s"$root/_tmp"), new java.io.File(s"$root/$rel"))
          s"""${jstr(part)}:[{"fileId":${jstr(s"g-$rf")},"path":${jstr(rel)},"numWrites":1}]"""
        }.mkString(",")
        Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
          s"""{"partitionToWriteStats":{$stats}}""")
        root
      })
    }

  private val deltaMappedMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the COLUMN-MAPPED (mode=name) Delta table used by q414:
    * partitioned by l_returnflag (log-borne, physically keyed
    * `col-4`), data files holding batches l_orderkey%10 ∈ {0,1} under
    * physical names col-1..col-3, logical schema mapping them back via
    * field metadata, protocol minReaderVersion=2. Memoized per
    * sf-dir. */
  private def authorDeltaMappedTable(s: SparkSession, dir: String): String =
    deltaMappedMemo.synchronized {
      deltaMappedMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_delta/cmap_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1))
        val flags = src.select(col("l_returnflag")).distinct()
          .collect().map(_.getString(0)).sorted
        // one data file per partition value, PHYSICAL column names,
        // partition column dropped from the file (Delta convention)
        val adds = flags.map { rf =>
          val rel = s"data/p-$rf.parquet"
          LakeFiles.Local(root).parquet(src.filter(col("l_returnflag") === rf)
            .select(col("l_orderkey").as("col-1"),
              col("l_quantity").as("col-2"),
              col("l_extendedprice").as("col-3")), rel)
          // partitionValues keyed by the PHYSICAL name, per protocol
          s"""{"add":{"path":${jstr(rel)},"partitionValues":{"col-4":${jstr(rf)}},"size":1,"modificationTime":0,"dataChange":true}}"""
        }
        def fld(name: String, tpe: String, id: Int): String =
          s"""{"name":${jstr(name)},"type":${jstr(tpe)},"nullable":true,"metadata":{"delta.columnMapping.id":$id,"delta.columnMapping.physicalName":${jstr(s"col-$id")}}}"""
        val schema =
          s"""{"type":"struct","fields":[${fld("l_orderkey", "long", 1)},${fld("l_quantity", "double", 2)},${fld("l_extendedprice", "double", 3)},${fld("l_returnflag", "string", 4)}]}"""
        val lines = Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-q414","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["l_returnflag"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"},"createdTime":0}}""") ++
          adds
        Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
          lines.mkString("", "\n", "\n"))
        root
      })
    }

  private val deltaIdMappedMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the mode=id COLUMN-MAPPED Delta table used by q429: same
    * shape as q414's mode=name table, but data columns carry PARQUET
    * FIELD IDS in their footers (physical names col-1..col-3 AND ids
    * 1..3, as id-mode writers stamp both) and the reader must resolve
    * by ID — the physical names are deliberately SHUFFLED relative to
    * the mapping (col-1 holds what physicalName col-2 would claim), so
    * a name-resolving read returns wrong columns and hash-mismatches.
    * Memoized per sf-dir. */
  private def authorDeltaIdMappedTable(s: SparkSession,
                                       dir: String): String =
    deltaIdMappedMemo.synchronized {
      deltaIdMappedMemo.getOrElseUpdate(dir,
        buildDeltaIdMappedTable(s, dir,
          s"/tmp/graft_delta/cmapid_${Integer.toHexString(dir.hashCode)}"))
    }

  /** The q429 mode=id layout at an explicit root (q499 compacts its
    * own fresh copy, so the memoized read table stays untouched;
    * q502 additionally turns the change feed on). */
  private def buildDeltaIdMappedTable(s: SparkSession, dir: String,
                                      root: String,
                                      cdf: Boolean = false): String =
    locally {
      locally {
        import java.nio.file.{Files, Paths}
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1))
        val flags = src.select(col("l_returnflag")).distinct()
          .collect().map(_.getString(0)).sorted
        val adds = flags.map { rf =>
          val rel = s"data/p-$rf.parquet"
          // stored names rotated vs the mapping; the stamped FIELD IDS
          // carry the true identity
          LakeFiles.Local(root).parquet(graft.sources.IcebergLite.stampFieldIds(
            src.filter(col("l_returnflag") === rf)
              .select(col("l_orderkey").as("col-2"),
                col("l_quantity").as("col-3"),
                col("l_extendedprice").as("col-1")),
            Map("col-2" -> 1, "col-3" -> 2, "col-1" -> 3)), rel)
          s"""{"add":{"path":${jstr(rel)},"partitionValues":{"col-4":${jstr(rf)}},"size":1,"modificationTime":0,"dataChange":true}}"""
        }
        def fld(name: String, tpe: String, id: Int): String =
          s"""{"name":${jstr(name)},"type":${jstr(tpe)},"nullable":true,"metadata":{"delta.columnMapping.id":$id,"delta.columnMapping.physicalName":${jstr(s"col-$id")}}}"""
        val schema =
          s"""{"type":"struct","fields":[${fld("l_orderkey", "long", 1)},${fld("l_quantity", "double", 2)},${fld("l_extendedprice", "double", 3)},${fld("l_returnflag", "string", 4)}]}"""
        val lines = Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-q429","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["l_returnflag"],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"4"${
            if (cdf) ""","delta.enableChangeDataFeed":"true"""" else ""
          }},"createdTime":0}}""") ++
          adds
        Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
          lines.mkString("", "\n", "\n"))
        root
      }
    }

  private val deltaInlineDvMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the INLINE-deletion-vector Delta table used by q430:
    * commit 0 adds batch A (l_orderkey%10 ∈ {0,1}); commit 1 re-adds
    * it with a storageType=i descriptor whose roaring-bitmap payload
    * (every l_quantity > 25 ordinal, read back from the real file)
    * travels base85-encoded INSIDE the log line. Memoized per
    * sf-dir. */
  private def authorDeltaInlineDvTable(s: SparkSession,
                                       dir: String): String =
    deltaInlineDvMemo.synchronized {
      deltaInlineDvMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_delta/idv_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "_delta_log"))
        Files.createDirectories(Paths.get(root, "data"))
        val a = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter((col("l_orderkey") % 10).isin(0, 1))
        LakeFiles.Local(root).parquet(a, "data/a.parquet")
        val dead = s.read.parquet(s"$root/data/a.parquet")
          .filter(col("l_quantity") > 25)
          .select(col("_metadata.row_index")).collect()
          .map(_.getLong(0)).sorted
        val bmp = new org.roaringbitmap.RoaringBitmap()
        dead.foreach(p => bmp.add(p.toInt))
        val bos = new java.io.ByteArrayOutputStream()
        val header = java.nio.ByteBuffer.allocate(16)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        header.putInt(1681511377); header.putLong(1L); header.putInt(0)
        bos.write(header.array())
        val dos = new java.io.DataOutputStream(bos)
        bmp.serialize(dos); dos.flush()
        val payload = bos.toByteArray
        val dvJson =
          s"""{"storageType":"i","pathOrInlineDv":${jstr(base85Encode(
            payload ++ Array.fill((4 - payload.length % 4) % 4)(
              0.toByte)))},"sizeInBytes":${payload.length},"cardinality":${dead.length}}"""
        val metaData =
          s"""{"metaData":{"id":"graft-q430","format":{"provider":"parquet","options":{}},"schemaString":${jstr(a.schema.json)},"partitionColumns":[],"configuration":{},"createdTime":0}}"""
        Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
          Seq(
            """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
            metaData,
            """{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
            .mkString("", "\n", "\n"))
        Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
          s"""{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":$dvJson}}""" + "\n")
        root
      })
    }

  private val icebergEqMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-snapshot Iceberg table with an EQUALITY delete
    * file used by q406. Snapshot 1 (sequence 1) = batch A
    * (l_orderkey%10=0); snapshot 2 (sequence 2) adds an equality
    * delete on field id 1 (l_orderkey) naming every A key with
    * l_quantity > 30 AND re-inserts the l_quantity > 45 subset of A as
    * data file B at sequence 2 — B's keys are all IN the delete set,
    * so B surviving proves the spec's STRICT sequence ordering
    * (data_seq < delete_seq). Sequence numbers exercise both spec
    * mechanisms: A's manifest entry carries an explicit
    * sequence_number; B's and the delete's are null and inherit the
    * manifest-list row's. Bounded driver-side scaffolding, memoized
    * per sf-dir. */
  private def authorIcebergEqDeleteTable(s: SparkSession,
                                         dir: String): String =
    icebergEqMemo.synchronized {
      icebergEqMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/eqdel_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .filter(col("l_orderkey") % 10 === 0)
        val lake = LakeFiles.Local(root)
        val (fa, fb, feq) =
          ("data/a.parquet", "data/b.parquet", "data/eq-del.parquet")
        val stamp = graft.sources.IcebergLite.stampFieldIds _
        lake.parquet(stamp(src, liFieldIds), fa)
        lake.parquet(stamp(src.filter(col("l_quantity") > 45), liFieldIds), fb)
        // equality-delete parquet: ONLY the equality column(s), footer
        // carrying its field id (the reader matches delete columns by id)
        lake.parquet(stamp(src.filter(col("l_quantity") > 30)
          .select(col("l_orderkey")).distinct(),
          Map("l_orderkey" -> 1)), feq)
        import s.implicits._
        // manifest: entry-level sequence_number (nullable) + data_file
        // struct carrying content and equality_ids (null for data)
        def manifest(rel: String, status: Int, path: String,
                     content: Int, seq: Option[Long],
                     eqIds: Seq[Int]): Unit =
          lake.avro(Seq((status, path)).toDF("status", "file_path")
            .select(col("status"),
              seq.map(v => lit(v)).getOrElse(lit(null))
                .cast("long").as("sequence_number"),
              struct(col("file_path"), lit(content).as("content"),
                (if (eqIds.isEmpty) lit(null).cast("array<int>")
                 else array(eqIds.map(lit(_)): _*)).as("equality_ids"))
                .as("data_file")), rel)
        manifest("metadata/m-a.avro", 1, fa, 0, Some(1L), Nil)
        manifest("metadata/m-b.avro", 1, fb, 0, None, Nil)
        manifest("metadata/m-eq.avro", 1, feq, 2, None, Seq(1))
        def manifestList(rel: String,
                         rows: (String, Int, Long)*): Unit =
          lake.avro(rows.toSeq
            .toDF("manifest_path", "content", "sequence_number"), rel)
        manifestList("metadata/snap-1.avro",
          ("metadata/m-a.avro", 0, 1L))
        manifestList("metadata/snap-2.avro",
          ("metadata/m-a.avro", 0, 1L), ("metadata/m-b.avro", 0, 2L),
          ("metadata/m-eq.avro", 1, 2L))
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          }.mkString("[", ",", "]")
        val metaJson =
          s"""{"format-version":2,"table-uuid":"graft-q406","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
             |"current-snapshot-id":2,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"},
             | {"snapshot-id":2,"manifest-list":"metadata/snap-2.avro"}
             |]}""".stripMargin
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          metaJson)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  /** Authors the SEQUENCE-STAMPED Iceberg table q494 writes an
    * equality delete into: two data files (orderkey parity split of
    * %10<2) listed at sequences 1 and 2 — the gate
    * [[graft.sources.IcebergLite.eqDelete]] demands. NOT memoized —
    * the query commits a delete snapshot. */
  private def authorIcebergSeqTable(s: SparkSession,
                                    dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_iceberg/eqwrite_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .filter(col("l_orderkey") % 10 < 2)
    val ids = Map("l_orderkey" -> 1, "l_quantity" -> 2,
      "l_returnflag" -> 3)
    val lake = LakeFiles.Local(root)
    lake.parquet(graft.sources.IcebergLite.stampFieldIds(
      src.filter(col("l_orderkey") % 2 === 0), ids), "data/a.parquet")
    lake.parquet(graft.sources.IcebergLite.stampFieldIds(
      src.filter(col("l_orderkey") % 2 === 1), ids), "data/b.parquet")
    import s.implicits._
    def manifest(rel: String, path: String): Unit =
      lake.avro(Seq((1, path)).toDF("status", "file_path")
        .select(col("status"),
          struct(col("file_path"), lit(0).as("content")).as("data_file")),
        rel)
    manifest("metadata/m-a.avro", "data/a.parquet")
    manifest("metadata/m-b.avro", "data/b.parquet")
    lake.avro(Seq(("metadata/m-a.avro", 0, 1L),
      ("metadata/m-b.avro", 0, 2L))
      .toDF("manifest_path", "content", "sequence_number"),
      "metadata/snap-1.avro")
    val fields = Seq((1, "l_orderkey", "long"),
      (2, "l_quantity", "double"), (3, "l_returnflag", "string"))
      .map { case (i, n, t) =>
        s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
      }.mkString("[", ",", "]")
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"table-uuid":"graft-q494","location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
         |]}""".stripMargin)
    Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
      "1")
    root
  }

  /** Authors the Delta table q471 COMPACTS: commit 0 blind-appends
    * batches A (%10=0) and B (%10=1); commit 1 row-level-deletes A's
    * l_quantity>25 via a deletion vector (remove + re-add). NOT
    * memoized — the query appends a compaction commit, so each
    * invocation rebuilds for determinism. */
  /** Authors the unpartitioned two-file Delta table q490 DELETES
    * from / q495 UPDATES (lineitem %10<2 split by orderkey parity,
    * CDF on; `tag` keeps the two queries' roots separate). NOT
    * memoized — each query commits a mutation. */
  private def authorDeltaDeleteTable(s: SparkSession, dir: String,
                                     tag: String = "rowdel"): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_delta/${tag}_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.createDirectories(Paths.get(root, "data"))
    val src = Tables.df(s, dir, "lineitem")
      .filter(col("l_orderkey") % 10 < 2)
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_returnflag"))
    val lake = LakeFiles.Local(root)
    lake.parquet(src.filter(col("l_orderkey") % 2 === 0), "data/a.parquet")
    lake.parquet(src.filter(col("l_orderkey") % 2 === 1), "data/b.parquet")
    val metaData =
      s"""{"metaData":{"id":"graft-q490","format":{"provider":"parquet","options":{}},"schemaString":${jstr(src.schema.json)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      Seq(metaData,
        """{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
        """{"add":{"path":"data/b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    root
  }

  /** Authors the two-group Hudi COW orders table q491 UPSERTS into
    * (gA = %10=0, gB = %10=1 at instant 001). NOT memoized — the
    * query commits an upsert. */
  private def authorHudiUpsertTable(s: SparkSession,
                                    dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_hudi/upsert_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=orders\nhoodie.table.type=COPY_ON_WRITE\n")
    val src = Tables.df(s, dir, "orders")
      .select(lit("001").as("_hoodie_commit_time"),
        col("o_orderkey").cast(StringType).as("_hoodie_record_key"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val lake = LakeFiles.Local(root)
    lake.parquet(src.filter(col("o_orderkey") % 10 === 0),
      "gA_0-0_001.parquet")
    lake.parquet(src.filter(col("o_orderkey") % 10 === 1),
      "gB_0-0_001.parquet")
    Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
      s"""{"partitionToWriteStats":{"":[{"fileId":"gA","path":"gA_0-0_001.parquet","numWrites":1},{"fileId":"gB","path":"gB_0-0_001.parquet","numWrites":1}]}}""")
    root
  }

  private def authorDeltaCompactTable(s: SparkSession,
                                      dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_delta/compact_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.createDirectories(Paths.get(root, "data"))
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val lake = LakeFiles.Local(root)
    val a = src.filter(col("l_orderkey") % 10 === 0)
    lake.parquet(a, "data/a.parquet")
    lake.parquet(src.filter(col("l_orderkey") % 10 === 1), "data/b.parquet")
    val dead = s.read.parquet(s"$root/data/a.parquet")
      .filter(col("l_quantity") > 25)
      .select(col("_metadata.row_index")).collect()
      .map(_.getLong(0)).sorted.toSeq
    val (framed, dataLen) = deltaDvFileBytes(dead)
    Files.write(Paths.get(root, "dv1.bin"), framed)
    val dv =
      s"""{"storageType":"p","pathOrInlineDv":${jstr(s"$root/dv1.bin")},"offset":1,"sizeInBytes":$dataLen,"cardinality":${dead.length}}"""
    val metaData =
      s"""{"metaData":{"id":"graft-q471","format":{"provider":"parquet","options":{}},"schemaString":${jstr(a.schema.json)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        metaData,
        """{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
        """{"add":{"path":"data/b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
      Seq(
        """{"remove":{"path":"data/a.parquet","deletionTimestamp":0,"dataChange":true}}""",
        s"""{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":$dv}}""")
        .mkString("", "\n", "\n"))
    root
  }

  /** Authors the PARTITIONED Delta table q481 COMPACTS: partition
    * column l_returnflag (log-only, per the protocol), TWO data
    * files per partition from the %10<2 lineitem subset, CDF on.
    * NOT memoized — the query appends a compaction commit. */
  private def authorDeltaPartCompactTable(s: SparkSession,
                                          dir: String): String =
    buildDeltaPartTable(s, dir,
      s"/tmp/graft_delta/partcompact_${Integer.toHexString(dir.hashCode)}",
      mod = 2)

  private val deltaBenchSrcMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** The MEMOIZED source table for the benched compaction (q493):
    * authored ONCE per JVM so bench passes time the COMPACTION (copy
    * + rewrite + census read), never the authoring's Spark jobs. A
    * bigger slice (%10<5) than the correctness fixtures so the
    * rewrite has real weight at sf0.1. */
  private def authorDeltaBenchCompactSrc(s: SparkSession,
                                         dir: String): String =
    deltaBenchSrcMemo.synchronized {
      deltaBenchSrcMemo.getOrElseUpdate(dir,
        buildDeltaPartTable(s, dir,
          s"/tmp/graft_delta/benchsrc_${Integer.toHexString(dir.hashCode)}",
          mod = 5))
    }

  private def buildDeltaPartTable(s: SparkSession, dir: String,
                                  root: String, mod: Int): String = {
    import java.nio.file.{Files, Paths}
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val src = Tables.df(s, dir, "lineitem")
      .filter(col("l_orderkey") % 10 < mod)
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val flags = src.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val lake = LakeFiles.Local(root)
    val adds = flags.flatMap { f =>
      Seq(0, 1).map { half =>
        val rel = s"l_returnflag=$f/f$half.parquet"
        lake.parquet(src.filter(col("l_returnflag") === f &&
          col("l_orderkey") % 2 === half).drop("l_returnflag"), rel)
        s"""{"add":{"path":${jstr(rel)},"partitionValues":{"l_returnflag":${
          jstr(f)}},"size":1,"modificationTime":0,"dataChange":true}}"""
      }
    }
    val metaData =
      s"""{"metaData":{"id":"graft-q481","format":{"provider":"parquet","options":{}},"schemaString":${
        jstr(src.schema.json)},"partitionColumns":["l_returnflag"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (metaData +: adds).mkString("", "\n", "\n"))
    root
  }

  /** Authors the identity-PARTITIONED Iceberg table q482 COMPACTS
    * (and q487 reads metadata from): partition spec identity on
    * l_returnflag, TWO id-stamped files per flag from the %10<2
    * lineitem subset (identity columns live IN the files, per the
    * spec). NOT memoized — the queries publish replace snapshots. */
  private def authorIcebergPartCompactTable(s: SparkSession,
                                            dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_iceberg/partcompact_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val src = Tables.df(s, dir, "lineitem")
      .filter(col("l_orderkey") % 10 < 2)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val ids = Map("l_orderkey" -> 1, "l_quantity" -> 2,
      "l_returnflag" -> 3)
    val flags = src.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val lake = LakeFiles.Local(root)
    val rels = flags.flatMap { f =>
      Seq(0, 1).map { half =>
        val rel = s"data/l_returnflag=$f/f$half.parquet"
        lake.parquet(graft.sources.IcebergLite.stampFieldIds(
          src.filter(col("l_returnflag") === f &&
            col("l_orderkey") % 2 === half), ids), rel)
        rel
      }
    }
    import s.implicits._
    lake.avro(rels.toDF("file_path")
      .select(lit(1).as("status"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      "metadata/m1.avro")
    lake.avro(Seq("metadata/m1.avro").toDF("manifest_path")
      .select(col("manifest_path"), lit(0).as("content")),
      "metadata/snap-1.avro")
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"l_orderkey","required":false,"type":"long"},
         |  {"id":2,"name":"l_quantity","required":false,"type":"double"},
         |  {"id":3,"name":"l_returnflag","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"l_returnflag","transform":"identity","source-id":3,"field-id":1000}]}],
         |"default-spec-id":0,
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
        .stripMargin)
    Files.writeString(
      Paths.get(root, "metadata", "version-hint.text"), "1")
    root
  }

  /** Authors the PARTITIONED Paimon append table q483 COMPACTS:
    * partition key l_returnflag, two value files per flag (partition
    * column EXCLUDED from the files, values ride the manifest's
    * BinaryRows). NOT memoized — the query publishes a COMPACT
    * snapshot. */
  private def authorPaimonPartCompactTable(s: SparkSession,
                                           dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_paimon/partcompact_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest"))
      Files.createDirectories(Paths.get(root, d))
    val src = Tables.df(s, dir, "lineitem")
      .filter(col("l_orderkey") % 10 < 2)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val flags = src.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val lake = LakeFiles.Local(root)
    val entries = flags.flatMap { f =>
      Seq(0, 1).map { half =>
        val name = s"f$half.parquet"
        lake.parquet(src.filter(col("l_returnflag") === f &&
          col("l_orderkey") % 2 === half).drop("l_returnflag"),
          s"l_returnflag=$f/bucket-0/$name")
        (f, name)
      }
    }
    import s.implicits._
    lake.avro(entries.map { case (f, name) =>
      (0, graft.sources.BinaryRowCodec.encode(Seq(f),
        Seq(org.apache.spark.sql.types.StringType)), name)
    }.toDF("_KIND", "_PARTITION", "_fn")
      .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m1.avro")
    lake.avro(Seq.empty[String].toDF("_FILE_NAME"),
      "manifest/ml-empty.avro")
    lake.avro(Seq("m1.avro").toDF("_FILE_NAME"), "manifest/ml-1.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"l_orderkey","type":"BIGINT"},
        | {"id":1,"name":"l_quantity","type":"DOUBLE"},
        | {"id":2,"name":"l_returnflag","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":["l_returnflag"],
        |"primaryKeys":[],"options":{"file.format":"parquet"}}"""
        .stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-empty.avro",
        |"deltaManifestList":"ml-1.avro",
        |"commitKind":"APPEND","commitUser":"graft",
        |"commitIdentifier":1,"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    root
  }

  /** Authors the multi-partition Hudi COW table q484 CLUSTERS:
    * partition paths `flag=<l_returnflag>`, TWO file groups per
    * partition, base files carrying `_hoodie_record_key` and
    * `_hoodie_partition_path` (the attribution column per-partition
    * packing rides). NOT memoized — the query appends a
    * replacecommit. */
  private def authorHudiPartClusterTable(s: SparkSession,
                                         dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_hudi/partcluster_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=li_partcluster\n" +
        "hoodie.table.type=COPY_ON_WRITE\n")
    val src = Tables.df(s, dir, "lineitem")
      .filter(col("l_orderkey") % 10 < 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val flags = src.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val lake = LakeFiles.Local(root)
    def stat(fid: String, p: String): String =
      s"""{"fileId":${jstr(fid)},"path":${jstr(p)},"numWrites":1}"""
    val statsByPart = flags.map { f =>
      val partPath = s"flag=$f"
      val stats = Seq(0, 1).map { half =>
        val fid = s"g$f$half"
        val rel = s"$partPath/${fid}_0-0_001.parquet"
        lake.parquet(src.filter(col("l_returnflag") === f &&
          col("l_orderkey") % 2 === half)
          .select(lit("001").as("_hoodie_commit_time"),
            concat_ws("-", col("l_orderkey"), col("l_linenumber"))
              .as("_hoodie_record_key"),
            lit(partPath).as("_hoodie_partition_path"),
            col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag")), rel)
        stat(fid, rel)
      }
      s"${jstr(partPath)}:${stats.mkString("[", ",", "]")}"
    }
    Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
      s"""{"partitionToWriteStats":{${statsByPart.mkString(",")}}}""")
    root
  }

  /** Authors the CHECKPOINTED Delta table q485 VACUUMS: the
    * checkpoint at v1 carries live add f1 plus the EXPIRED remove
    * tombstone of f0 (commits 0-1's JSON is gone — the protocol
    * keeps tombstones in checkpoints for exactly this reclaim
    * bookkeeping); JSON commit 2 supersedes f1 with f2. NOT
    * memoized — the query deletes files. */
  private def authorDeltaCkptVacuumTable(s: SparkSession,
                                         dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_delta/ckptvacuum_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val lake = LakeFiles.Local(root)
    lake.parquet(src.filter(col("l_orderkey") % 10 === 0), "f0.parquet")
    lake.parquet(src.filter(col("l_orderkey") % 10 === 1), "f1.parquet")
    lake.parquet(src.filter(col("l_orderkey") % 10 === 2), "f2.parquet")
    val addT = "struct<path:string,partitionValues:map<string,string>>"
    val removeT = "struct<path:string>"
    val metaT = "struct<schemaString:string," +
      "partitionColumns:array<string>>"
    val frame = s.range(1).select(
        lit(null).cast(addT).as("add"),
        lit(null).cast(removeT).as("remove"),
        struct(lit(src.schema.json).as("schemaString"),
          array().cast("array<string>").as("partitionColumns"))
          .as("metaData"))
      .unionByName(s.range(1).select(
        struct(lit("f1.parquet").as("path"),
          map().cast("map<string,string>").as("partitionValues"))
          .as("add"),
        lit(null).cast(removeT).as("remove"),
        lit(null).cast(metaT).as("metaData")))
      .unionByName(s.range(1).select(
        lit(null).cast(addT).as("add"),
        struct(lit("f0.parquet").as("path")).as("remove"),
        lit(null).cast(metaT).as("metaData")))
    LakeFiles.stage(frame, "parquet", new java.io.File(s"$root/_tmpckpt"),
      new java.io.File(
        s"$root/_delta_log/${f"${1L}%020d"}.checkpoint.parquet"))
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1}""")
    Files.writeString(Paths.get(root, "_delta_log", f"${2L}%020d.json"),
      Seq(
        """{"remove":{"path":"f1.parquet","deletionTimestamp":0,"dataChange":true}}""",
        """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    root
  }

  /** Authors the changelog-producer=LOOKUP Paimon PK table q486
    * reads: snapshot 1 inserts %10<5 keys; snapshot 2 APPENDS the
    * ×2 upserts of %10∈(3,4) with NO changelog (lookup DEFERS it);
    * snapshot 3 is the lookup COMPACT snapshot carrying the deferred
    * NORMALIZED changelog (-U old / +U new). NOT memoized. */
  private def authorPaimonLookupTable(s: SparkSession,
                                      dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_paimon/lookup_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    val base = Tables.df(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 10 < 5)
    def kv(df: DataFrame, seq: Long, kind: Int): DataFrame =
      df.select(col("o_orderkey").as("_KEY_o_orderkey"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val lake = LakeFiles.Local(root)
    lake.parquet(kv(base, 1L, 0), "bucket-0/kv-ins.parquet")
    val upSrc = base.filter((col("o_orderkey") % 10).isin(3, 4))
    lake.parquet(kv(upSrc.withColumn("o_totalprice",
      col("o_totalprice") * 2), 2L, 0), "bucket-0/kv-ups.parquet")
    // the lookup compaction's NORMALIZED changelog: -U old, +U new
    lake.parquet(kv(upSrc, 2L, 1).unionByName(
      kv(upSrc.withColumn("o_totalprice", col("o_totalprice") * 2),
        2L, 2)), "bucket-0/changelog-3.parquet")
    import s.implicits._
    def manifest(rel: String, entries: (Int, String)*): Unit =
      lake.avro(entries.toSeq.toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
    manifest("manifest/m-ins.avro", (0, "kv-ins.parquet"))
    manifest("manifest/m-ups.avro", (0, "kv-ups.parquet"))
    manifest("manifest/m-cl.avro", (0, "changelog-3.parquet"))
    def mlist(rel: String, names: String*): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toSeq.toDF("_FILE_NAME"), rel)
    mlist("manifest/ml-empty.avro")
    mlist("manifest/ml-ins.avro", "m-ins.avro")
    mlist("manifest/ml-ups.avro", "m-ups.avro")
    mlist("manifest/ml-cl.avro", "m-cl.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"o_orderkey","type":"BIGINT"},
        | {"id":1,"name":"o_totalprice","type":"DOUBLE"},
        | {"id":2,"name":"o_orderstatus","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":[],
        |"primaryKeys":["o_orderkey"],
        |"options":{"file.format":"parquet",
        | "changelog-producer":"lookup"}}""".stripMargin)
    def snapJson(id: Long, bs: String, dl: String, kind: String,
                 cl: Option[String]): String =
      s"""{"version":3,"id":$id,"schemaId":0,
         |"baseManifestList":${jstr(bs)},
         |"deltaManifestList":${jstr(dl)},""".stripMargin +
        cl.map(c => s"""\n"changelogManifestList":${jstr(c)},""")
          .getOrElse("") +
        s"""\n"commitKind":${jstr(kind)},"commitUser":"graft",
           |"commitIdentifier":$id,"timeMillis":0}""".stripMargin
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      snapJson(1, "ml-empty.avro", "ml-ins.avro", "APPEND", None))
    Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
      snapJson(2, "ml-ins.avro", "ml-ups.avro", "APPEND", None))
    Files.writeString(Paths.get(root, "snapshot", "snapshot-3"),
      snapJson(3, "ml-ups.avro", "ml-empty.avro", "COMPACT",
        Some("ml-cl.avro")))
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "3")
    root
  }

  /** Authors the Hudi COW table q488 reads the WRITTEN CDC of:
    * commit 001 inserts the %10<2 orders; commit 002 rewrites group
    * g with %10=1 values ×2 AND %10=0 values UNCHANGED — but the
    * commit's cdcStats-declared CDC log file records updates for
    * BOTH halves (the unchanged-value rewrite is invisible to any
    * file diff, so matching the oracle PROVES the block is read).
    * NOT memoized. */
  private def authorHudiExactCdcTable(s: SparkSession,
                                      dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_hudi/exactcdc_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=o_exactcdc\n" +
        "hoodie.table.type=COPY_ON_WRITE\n")
    val src = Tables.df(s, dir, "orders")
      .filter(col("o_orderkey") % 10 < 2)
      .select(col("o_orderkey"), col("o_totalprice"))
    def withMeta(df: DataFrame): DataFrame =
      df.select(lit("001").as("_hoodie_commit_time"),
        col("o_orderkey").cast(StringType).as("_hoodie_record_key"),
        col("o_orderkey"), col("o_totalprice"))
    val lake = LakeFiles.Local(root)
    lake.parquet(withMeta(src), "g_0-0_001.parquet")
    val rewritten = src.withColumn("o_totalprice",
      when(col("o_orderkey") % 10 === 1, col("o_totalprice") * 2)
        .otherwise(col("o_totalprice")))
    lake.parquet(withMeta(rewritten), "g_0-0_002.parquet")
    // the written CDC: an update record for EVERY key, including the
    // value-unchanged %10=0 half a diff would never see
    val images = src.select(
        to_json(struct(col("o_orderkey"), col("o_totalprice")))
          .as("before"),
        to_json(struct(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 1, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice")))
          .as("after"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    graft.sources.HudiMorLite.writeLogFile(s"$root/.g_cdc_002.log.1",
      Seq(graft.sources.HudiMorLite.CdcSchema -> images.map {
        case (b, a) => Map[String, Any]("op" -> "u", "ts_ms" -> "0",
          "before" -> b, "after" -> a)
      }),
      blockType = graft.sources.HudiMorLite.CdcDataBlockOrdinal)
    def stat(fid: String, p: String, extra: String = ""): String =
      s"""{"fileId":${jstr(fid)},"path":${jstr(p)},"numWrites":1$extra}"""
    Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
      s"""{"partitionToWriteStats":{"":[${
        stat("g", "g_0-0_001.parquet")}]}}""")
    Files.writeString(Paths.get(root, ".hoodie", "002.commit"),
      s"""{"partitionToWriteStats":{"":[${
        stat("g", "g_0-0_002.parquet",
          ""","cdcStats":{".g_cdc_002.log.1":1}""")}]}}""")
    root
  }

  /** Authors the format-v3 Iceberg table q472 COMPACTS: files a
    * (%10=0) and b (%10=1) at sequence 1, a deletion vector on `a`
    * (l_quantity>35), and an equality delete on l_returnflag='R' at
    * sequence 2 — every delete surface the rewrite must materialize.
    * NOT memoized — the query publishes a replace snapshot, so each
    * invocation rebuilds for determinism. */
  private def authorIcebergCompactTable(s: SparkSession,
                                        dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_iceberg/compact_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val stamp = graft.sources.IcebergLite.stampFieldIds _
    val lake = LakeFiles.Local(root)
    lake.parquet(stamp(src.filter(col("l_orderkey") % 10 === 0), liFieldIds),
      "data/a.parquet")
    lake.parquet(stamp(src.filter(col("l_orderkey") % 10 === 1), liFieldIds),
      "data/b.parquet")
    lake.parquet(stamp(src.filter(col("l_returnflag") === "R")
      .select(col("l_returnflag")).distinct(),
      Map("l_returnflag" -> 4)), "data/eq.parquet")
    val dead = s.read.parquet(s"$root/data/a.parquet")
      .filter(col("l_quantity") > 35)
      .select(col("_metadata.row_index")).collect()
      .map(_.getLong(0)).sorted.toSeq
    val (puffin, contentSize) = puffinDvBytes(dead)
    Files.write(Paths.get(root, "data", "dv.puffin"), puffin)
    import s.implicits._
    def manifest(rel: String, path: String, content: Int,
                 eqIds: Seq[Int], dv: Boolean): Unit =
      lake.avro(Seq((1, path)).toDF("status", "file_path")
        .select(col("status"),
          struct(col("file_path"), lit(content).as("content"),
            (if (eqIds.isEmpty) lit(null).cast("array<int>")
             else array(eqIds.map(lit(_)): _*)).as("equality_ids"),
            (if (dv) lit("data/a.parquet") else lit(null))
              .cast("string").as("referenced_data_file"),
            (if (dv) lit(4L) else lit(null))
              .cast("long").as("content_offset"),
            (if (dv) lit(contentSize) else lit(null))
              .cast("long").as("content_size_in_bytes"),
            (if (dv) lit(dead.length.toLong) else lit(null))
              .cast("long").as("record_count")).as("data_file")), rel)
    manifest("metadata/m-a.avro", "data/a.parquet", 0, Nil, dv = false)
    manifest("metadata/m-b.avro", "data/b.parquet", 0, Nil, dv = false)
    manifest("metadata/m-dv.avro", "data/dv.puffin", 1, Nil, dv = true)
    manifest("metadata/m-eq.avro", "data/eq.parquet", 2, Seq(4),
      dv = false)
    lake.avro(Seq(
      ("metadata/m-a.avro", 0, 1L), ("metadata/m-b.avro", 0, 1L),
      ("metadata/m-dv.avro", 1, 1L), ("metadata/m-eq.avro", 1, 2L))
      .toDF("manifest_path", "content", "sequence_number"),
      "metadata/snap-1.avro")
    val fields = Seq(
      (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
      (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
      .map { case (i, n, t) =>
        s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
      }.mkString("[", ",", "]")
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":3,"table-uuid":"graft-q472","location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
         |]}""".stripMargin)
    Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
      "1")
    root
  }

  private val icebergChangesMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-snapshot format-v3 Iceberg table q463 diffs.
    * Snapshot 1: data files a (l_orderkey%10=0) and b (%10=1) at
    * sequence 1, plus a deletion vector on `a` killing l_quantity>45.
    * Snapshot 2 (sequence 2): appends data file c (%10=2), REPLACES
    * a's DV with a superset (l_quantity>35 — the v3 supersession
    * rule), adds a DV on the new file c (l_quantity<2), and adds an
    * equality delete on l_returnflag='R' (field id 4) at sequence 2 —
    * which therefore matches only the seq-1 files a/b, never c. Dead
    * ordinals derive from the REAL parquet files so authoring cannot
    * drift. Memoized per sf-dir. */
  private def authorIcebergChangesTable(s: SparkSession,
                                        dir: String): String =
    icebergChangesMemo.synchronized {
      icebergChangesMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/changes_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val stamp = graft.sources.IcebergLite.stampFieldIds _
        val lake = LakeFiles.Local(root)
        for (b <- 0 to 2)
          lake.parquet(stamp(src.filter(col("l_orderkey") % 10 === b),
            liFieldIds), s"data/b$b.parquet")
        // equality-delete parquet: only the equality column, footer
        // carrying its field id
        lake.parquet(stamp(src.filter(col("l_returnflag") === "R")
          .select(col("l_returnflag")).distinct(),
          Map("l_returnflag" -> 4)), "data/eq.parquet")
        // DV puffins, dead ordinals from the REAL files
        def deadOf(rel: String,
                   c: org.apache.spark.sql.Column): Seq[Long] =
          s.read.parquet(s"$root/$rel").filter(c)
            .select(col("_metadata.row_index")).collect()
            .map(_.getLong(0)).sorted.toSeq
        def dvFile(rel: String, dead: Seq[Long]): (Long, Long) = {
          val (bytes, contentSize) = puffinDvBytes(dead)
          Files.write(Paths.get(root, rel), bytes)
          (contentSize, dead.length.toLong)
        }
        val dv1 = dvFile("data/dv1.puffin",
          deadOf("data/b0.parquet", col("l_quantity") > 45))
        val dv2 = dvFile("data/dv2.puffin",
          deadOf("data/b0.parquet", col("l_quantity") > 35))
        val dv3 = dvFile("data/dv3.puffin",
          deadOf("data/b2.parquet", col("l_quantity") < 2))
        import s.implicits._
        // one manifest per file; every optional spec field spelled out
        def manifest(rel: String, path: String, content: Int,
                     eqIds: Seq[Int],
                     dv: Option[(String, (Long, Long))]): Unit =
          lake.avro(Seq((1, path)).toDF("status", "file_path")
            .select(col("status"),
              struct(col("file_path"), lit(content).as("content"),
                (if (eqIds.isEmpty) lit(null).cast("array<int>")
                 else array(eqIds.map(lit(_)): _*)).as("equality_ids"),
                dv.map(d => lit(d._1)).getOrElse(lit(null))
                  .cast("string").as("referenced_data_file"),
                dv.map(_ => lit(4L)).getOrElse(lit(null))
                  .cast("long").as("content_offset"),
                dv.map(d => lit(d._2._1)).getOrElse(lit(null))
                  .cast("long").as("content_size_in_bytes"),
                dv.map(d => lit(d._2._2)).getOrElse(lit(null))
                  .cast("long").as("record_count"))
                .as("data_file")), rel)
        manifest("metadata/m-a.avro", "data/b0.parquet", 0, Nil, None)
        manifest("metadata/m-b.avro", "data/b1.parquet", 0, Nil, None)
        manifest("metadata/m-c.avro", "data/b2.parquet", 0, Nil, None)
        manifest("metadata/m-dv1.avro", "data/dv1.puffin", 1, Nil,
          Some(("data/b0.parquet", dv1)))
        manifest("metadata/m-dv2.avro", "data/dv2.puffin", 1, Nil,
          Some(("data/b0.parquet", dv2)))
        manifest("metadata/m-dv3.avro", "data/dv3.puffin", 1, Nil,
          Some(("data/b2.parquet", dv3)))
        manifest("metadata/m-eq.avro", "data/eq.parquet", 2, Seq(4), None)
        def manifestList(rel: String,
                         rows: (String, Int, Long)*): Unit =
          lake.avro(rows.toSeq
            .toDF("manifest_path", "content", "sequence_number"), rel)
        manifestList("metadata/snap-1.avro",
          ("metadata/m-a.avro", 0, 1L), ("metadata/m-b.avro", 0, 1L),
          ("metadata/m-dv1.avro", 1, 1L))
        manifestList("metadata/snap-2.avro",
          ("metadata/m-a.avro", 0, 1L), ("metadata/m-b.avro", 0, 1L),
          ("metadata/m-c.avro", 0, 2L), ("metadata/m-dv2.avro", 1, 2L),
          ("metadata/m-dv3.avro", 1, 2L), ("metadata/m-eq.avro", 1, 2L))
        val fields = Seq(
          (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
          (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
          .map { case (i, n, t) =>
            s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
          }.mkString("[", ",", "]")
        Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
          s"""{"format-version":3,"table-uuid":"graft-q463","location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
             |"current-snapshot-id":2,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"},
             | {"snapshot-id":2,"manifest-list":"metadata/snap-2.avro"}
             |]}""".stripMargin)
        Files.writeString(Paths.get(root, "metadata", "version-hint.text"),
          "1")
        root
      })
    }

  /** Authors the APPEND-ONLY Delta table q400 streams from: fresh root
    * with commits 0..upTo, one add per commit (batch = l_orderkey%10 ==
    * commit). Unpartitioned — data files carry every column. NOT
    * memoized: the stream test appends commits mid-run, so each
    * invocation rebuilds from scratch for determinism. */
  private def authorDeltaStreamTable(s: SparkSession, dir: String,
                                     upTo: Int,
                                     cdf: Boolean = false): String = {
    import java.nio.file.{Files, Paths}
    val root = s"/tmp/graft_deltastream/" +
      s"${if (cdf) "cdf" else "li"}_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.createDirectories(Paths.get(root, "data"))
    for (v <- 0 to upTo) appendDeltaStreamCommit(s, dir, root, v, cdf)
    root
  }

  /** Appends commit `v` to the q400 stream table: writes batch
    * (l_orderkey%10 == v) as data/b<v>.parquet and logs the add
    * (commit 0 also carries protocol + metaData). */
  private def appendDeltaStreamCommit(s: SparkSession, dir: String,
                                      root: String, v: Int,
                                      cdf: Boolean = false): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val rel = s"data/b$v.parquet"
    LakeFiles.Local(root).parquet(src.filter(col("l_orderkey") % 10 === v), rel)
    val conf =
      if (cdf) """{"delta.enableChangeDataFeed":"true"}""" else "{}"
    val head = if (v == 0)
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"graft-q400","format":{"provider":"parquet","options":{}},"schemaString":${jstr(src.schema.json)},"partitionColumns":[],"configuration":$conf,"createdTime":0}}
         |""".stripMargin
    else ""
    graft.sources.AtomicFiles.write(
      Paths.get(root, "_delta_log", f"$v%020d.json"),
      head +
        s"""{"add":{"path":${jstr(rel)},"partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
           |""".stripMargin)
  }

  /** Authors the APPEND-ONLY Hudi COW table q412/q413 stream from:
    * fresh root with instants 1..upTo+1 (instant v+1 commits batch
    * l_orderkey%10 == v as a NEW file group under the empty partition
    * path). NOT memoized: the stream test appends commits mid-run. */
  private def authorHudiStreamTable(s: SparkSession, dir: String,
                                    upTo: Int): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_hudistream/li_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=lineitem_stream\n" +
        "hoodie.table.type=COPY_ON_WRITE\n")
    for (v <- 0 to upTo) appendHudiStreamCommit(s, dir, root, v)
    root
  }

  /** Appends instant `v+1` to the q412 stream table: batch
    * (l_orderkey%10 == v) lands as new file group b<v> and the commit
    * JSON publishes atomically (a concurrent timeline poll must never
    * read half a commit). */
  private def appendHudiStreamCommit(s: SparkSession, dir: String,
                                     root: String, v: Int): Unit = {
    import java.nio.file.Paths
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val instant = (v + 1).toString
    val rel = s"b${v}_0-0_$instant.parquet"
    LakeFiles.Local(root).parquet(src.filter(col("l_orderkey") % 10 === v), rel)
    graft.sources.AtomicFiles.write(
      Paths.get(root, ".hoodie", s"$instant.commit"),
      s"""{"partitionToWriteStats":{"":[{"fileId":${jstr(s"b$v")},"path":${jstr(rel)},"numWrites":1}]}}""")
  }

  /** Authors the APPEND-ONLY Iceberg table q401 streams from: fresh
    * root with snapshots 1..upTo (snapshot k adds batch l_orderkey%10
    * == k-1; each snapshot's manifest list re-lists every prior
    * manifest — cumulative, append-only). NOT memoized: the stream
    * test appends snapshots mid-run. */
  private def authorIcebergStreamTable(s: SparkSession, dir: String,
                                       upTo: Int): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_icestream/li_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    for (k <- 1 to upTo) appendIcebergSnapshot(s, dir, root, k)
    root
  }

  /** Appends snapshot `k` to the q401 stream table: writes batch
    * (l_orderkey%10 == k-1), a manifest for it, a manifest list
    * covering manifests 1..k, metadata v<k> listing snapshots 1..k,
    * and bumps version-hint. */
  private def appendIcebergSnapshot(s: SparkSession, dir: String,
                                    root: String, k: Int): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    LakeFiles.Local(root).parquet(
      graft.sources.IcebergLite.stampFieldIds(
        src.filter(col("l_orderkey") % 10 === (k - 1)), liFieldIds),
      s"data/b$k.parquet")
    val lake = LakeFiles.Local(root)
    import s.implicits._
    lake.avro(Seq((1, s"data/b$k.parquet")).toDF("status", "file_path")
      .select(col("status"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      s"metadata/m$k.avro")
    lake.avro((1 to k).map(i => (s"metadata/m$i.avro", 0))
      .toDF("manifest_path", "content"), s"metadata/snap-$k.avro")
    val fields = Seq(
      (1, "l_orderkey", "long"), (2, "l_quantity", "double"),
      (3, "l_extendedprice", "double"), (4, "l_returnflag", "string"))
      .map { case (i, n, t) =>
        s"""{"id":$i,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
      }.mkString("[", ",", "]")
    val snaps = (1 to k).map(i =>
      s"""{"snapshot-id":$i,"manifest-list":${jstr(s"metadata/snap-$i.avro")}}""")
      .mkString("[", ",\n", "]")
    graft.sources.AtomicFiles.write(
      Paths.get(root, "metadata", s"v$k.metadata.json"),
      s"""{"format-version":2,"table-uuid":"graft-q401","location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
         |"current-snapshot-id":$k,
         |"snapshots":$snaps}""".stripMargin)
    graft.sources.AtomicFiles.write(
      Paths.get(root, "metadata", "version-hint.text"), k.toString)
  }

  /** Authors the APPEND-ONLY Paimon table q402 streams from: fresh
    * root with snapshots 1..upTo (snapshot k's BASE covers manifests
    * 1..k-1, its DELTA adds batch l_orderkey%10 == k-1). NOT memoized:
    * the stream test appends snapshots mid-run. */
  private def authorPaimonStreamTable(s: SparkSession, dir: String,
                                      upTo: Int): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_paimonstream/li_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"l_orderkey","type":"BIGINT"},
        | {"id":1,"name":"l_quantity","type":"DOUBLE"},
        | {"id":2,"name":"l_extendedprice","type":"DOUBLE"},
        | {"id":3,"name":"l_returnflag","type":"STRING"}],
        |"highestFieldId":3,"partitionKeys":[],"primaryKeys":[],
        |"options":{"file.format":"parquet"}}""".stripMargin)
    for (k <- 1 to upTo) appendPaimonSnapshot(s, dir, root, k)
    root
  }

  /** Appends snapshot `k` to the q402 stream table: writes batch
    * (l_orderkey%10 == k-1) as a bucket-0 data file, a manifest for
    * it, base/delta manifest lists, the snapshot JSON, and bumps
    * LATEST. */
  private def appendPaimonSnapshot(s: SparkSession, dir: String,
                                   root: String, k: Int): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val lake = LakeFiles.Local(root)
    lake.parquet(src.filter(col("l_orderkey") % 10 === (k - 1)),
      s"bucket-0/data-b$k.parquet")
    import s.implicits._
    lake.avro(Seq((0, s"data-b$k.parquet")).toDF("_KIND", "_fn")
      .select(col("_KIND"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      s"manifest/m$k.avro")
    def mlist(rel: String, names: Seq[String]): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toDF("_FILE_NAME"), rel)
    mlist(s"manifest/ml-base-$k.avro", (1 until k).map(i => s"m$i.avro"))
    mlist(s"manifest/ml-delta-$k.avro", Seq(s"m$k.avro"))
    graft.sources.AtomicFiles.write(
      Paths.get(root, "snapshot", s"snapshot-$k"),
      s"""{"version":3,"id":$k,"schemaId":0,
         |"baseManifestList":"ml-base-$k.avro",
         |"deltaManifestList":"ml-delta-$k.avro",
         |"commitKind":"APPEND","commitUser":"graft",
         |"commitIdentifier":$k,"timeMillis":0}""".stripMargin)
    graft.sources.AtomicFiles.write(
      Paths.get(root, "snapshot", "LATEST"), k.toString)
  }

  /** Authors the PARTITIONED append-only Paimon table q438 streams
    * from — the same snapshot cadence as [[authorPaimonStreamTable]]
    * but partitioned by l_returnflag: each batch's rows split across
    * `l_returnflag=<v>/bucket-0/` files (excluding the partition
    * column, Paimon-style) and every manifest entry carries its
    * _PARTITION BinaryRow. NOT memoized: the stream test appends
    * snapshots mid-run. */
  private def authorPaimonPartStreamTable(s: SparkSession, dir: String,
                                          upTo: Int): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_paimonstream/part_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest"))
      Files.createDirectories(Paths.get(root, d))
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"l_orderkey","type":"BIGINT"},
        | {"id":1,"name":"l_quantity","type":"DOUBLE"},
        | {"id":2,"name":"l_extendedprice","type":"DOUBLE"},
        | {"id":3,"name":"l_returnflag","type":"STRING"}],
        |"highestFieldId":3,"partitionKeys":["l_returnflag"],
        |"primaryKeys":[],
        |"options":{"file.format":"parquet"}}""".stripMargin)
    for (k <- 1 to upTo) appendPaimonPartSnapshot(s, dir, root, k)
    root
  }

  /** Appends snapshot `k` to the q438 partitioned stream table: batch
    * (l_orderkey%10 == k-1) split per l_returnflag partition. */
  private def appendPaimonPartSnapshot(s: SparkSession, dir: String,
                                       root: String, k: Int): Unit = {
    import java.nio.file.{Files, Paths}
    val batch = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .filter(col("l_orderkey") % 10 === (k - 1))
    val flags = batch.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val lake = LakeFiles.Local(root)
    for (f <- flags)
      lake.parquet(batch.filter(col("l_returnflag") === f)
        .drop("l_returnflag"), s"l_returnflag=$f/bucket-0/data-b$k.parquet")
    import s.implicits._
    lake.avro(flags.map(f => (0, s"data-b$k.parquet",
      graft.sources.BinaryRowCodec.encode(Seq(f),
        Seq(org.apache.spark.sql.types.StringType))))
      .toDF("_KIND", "_fn", "_PARTITION")
      .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      s"manifest/m$k.avro")
    def mlist(rel: String, names: Seq[String]): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toDF("_FILE_NAME"), rel)
    mlist(s"manifest/ml-base-$k.avro", (1 until k).map(i => s"m$i.avro"))
    mlist(s"manifest/ml-delta-$k.avro", Seq(s"m$k.avro"))
    graft.sources.AtomicFiles.write(
      Paths.get(root, "snapshot", s"snapshot-$k"),
      s"""{"version":3,"id":$k,"schemaId":0,
         |"baseManifestList":"ml-base-$k.avro",
         |"deltaManifestList":"ml-delta-$k.avro",
         |"commitKind":"APPEND","commitUser":"graft",
         |"commitIdentifier":$k,"timeMillis":0}""".stripMargin)
    graft.sources.AtomicFiles.write(
      Paths.get(root, "snapshot", "LATEST"), k.toString)
  }

  /** Lay out an UNPARTITIONED Paimon PK table at `root`: each KeyValue
    * frame (already carrying _KEY_o_orderkey / _SEQUENCE_NUMBER /
    * _VALUE_KIND + value columns) becomes kv<i>.parquet in its own
    * snapshot i+1. Shared by the merge-engine fixtures q440–q442. */
  private def writePaimonPkLayout(root: String, options: String,
                                  fieldsJson: String,
                                  kvFrames: Seq[DataFrame],
                                  highestFieldId: Int = 2): Unit = {
    import java.nio.file.{Files, Paths}
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    val lake = LakeFiles.Local(root)
    val session = kvFrames.head.sparkSession
    import session.implicits._
    kvFrames.zipWithIndex.foreach { case (df, i) =>
      lake.parquet(df, s"bucket-0/kv$i.parquet")
      lake.avro(Seq((0, s"kv$i.parquet")).toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
        s"manifest/m-kv$i.avro")
      lake.avro((0 until i).map(j => s"m-kv$j.avro") match {
        case Nil => Seq.empty[String].toDF("_FILE_NAME")
        case ns  => ns.toDF("_FILE_NAME")
      }, s"manifest/ml-base-$i.avro")
      lake.avro(Seq(s"m-kv$i.avro").toDF("_FILE_NAME"),
        s"manifest/ml-delta-$i.avro")
      Files.writeString(Paths.get(root, "snapshot", s"snapshot-${i + 1}"),
        s"""{"version":3,"id":${i + 1},"schemaId":0,
           |"baseManifestList":"ml-base-$i.avro",
           |"deltaManifestList":"ml-delta-$i.avro",
           |"commitKind":"APPEND","commitUser":"graft",
           |"commitIdentifier":${i + 1},"timeMillis":0}""".stripMargin)
    }
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      s"""{"id":0,"fields":[$fieldsJson],"highestFieldId":$highestFieldId,
         |"partitionKeys":[],"primaryKeys":["o_orderkey"],
         |"options":$options}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"),
      kvFrames.size.toString)
  }

  private val ordersPkFields =
    """{"id":0,"name":"o_orderkey","type":"BIGINT"},
      |{"id":1,"name":"o_totalprice","type":"DOUBLE"},
      |{"id":2,"name":"o_orderstatus","type":"STRING"}""".stripMargin

  /** Orders rows %10<5 as a KeyValue frame at `seq`/`kind`, with
    * per-column null/multiplier shaping for the engine fixtures. */
  private def ordersKv(s: SparkSession, dir: String, seq: Long,
                       kind: Int, keyFilter: Column => Column,
                       priceMult: Option[Double],
                       status: Boolean): DataFrame = {
    val base = Tables.df(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 10 < 5)
      .filter(keyFilter(col("o_orderkey")))
    base.select(col("o_orderkey").as("_KEY_o_orderkey"),
      lit(seq).as("_SEQUENCE_NUMBER"),
      lit(kind).cast("tinyint").as("_VALUE_KIND"),
      col("o_orderkey"),
      priceMult.map(m => (col("o_totalprice") * m).as("o_totalprice"))
        .getOrElse(lit(null).cast("double").as("o_totalprice")),
      (if (status) col("o_orderstatus")
       else lit(null).cast("string")).as("o_orderstatus"))
  }

  private val paimonEngineMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the three merge-engine tables (partial-update /
    * aggregation / first-row) q440–q442 read. Memoized per
    * (sf-dir, engine). */
  private def authorPaimonEngineTable(s: SparkSession, dir: String,
                                      engine: String): String =
    paimonEngineMemo.synchronized {
      paimonEngineMemo.getOrElseUpdate(s"$dir/$engine", {
        val root = s"/tmp/graft_paimon/eng_${engine.replace("-", "")}_" +
          Integer.toHexString(dir.hashCode)
        val frames = engine match {
          case "partial-update" => Seq(
            // seq1 +I: price + status, seq2 +U: ONLY status-less
            // price-less priority fill... here: price NULLed, status
            // kept NULL so the earlier values must survive
            ordersKv(s, dir, 1L, 0, _ => lit(true), Some(1.0),
              status = true),
            ordersKv(s, dir, 2L, 2, k => (k % 10).isin(3, 4), None,
              status = false))
          case "aggregation" => Seq(
            ordersKv(s, dir, 1L, 0, _ => lit(true), Some(1.0),
              status = true),
            // second +I adds price again for %10∈(3,4) → sum doubles;
            // its NULL status must not erase under last_non_null
            ordersKv(s, dir, 2L, 0, k => (k % 10).isin(3, 4), Some(1.0),
              status = false))
          case "first-row" => Seq(
            ordersKv(s, dir, 1L, 0, _ => lit(true), Some(1.0),
              status = true),
            // later duplicate inserts at ×2 must LOSE to the first row
            ordersKv(s, dir, 2L, 0, k => (k % 10).isin(3, 4), Some(2.0),
              status = true))
          case other => throw new IllegalArgumentException(other)
        }
        val options = engine match {
          case "aggregation" =>
            """{"merge-engine":"aggregation",
              |"fields.o_totalprice.aggregate-function":"sum"}"""
              .stripMargin
          case e => s"""{"merge-engine":"$e"}"""
        }
        writePaimonPkLayout(root, options, ordersPkFields, frames)
        root
      })
    }

  private val paimonAggXMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the aggregation-engine table q449 reads — one column per
    * published fold beyond sum/min/max: o_cnt (count; NULL inputs
    * don't count), o_last (last_value; a later NULL OVERWRITES),
    * o_ba (bool_and), o_tag (listagg, '|' delimiter, merge order).
    * Snapshot 1 inserts all %10<5 keys; snapshot 2 re-inserts
    * %10∈(3,4) with o_cnt=1 / o_last=NULL / o_ba=false-on-3 /
    * o_tag='Z'. Memoized per sf-dir. */
  private def authorPaimonAggXTable(s: SparkSession,
                                    dir: String): String =
    paimonAggXMemo.synchronized {
      paimonAggXMemo.getOrElseUpdate(dir, {
        val root =
          s"/tmp/graft_paimon/aggx_${Integer.toHexString(dir.hashCode)}"
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        def kv(seq: Long, df: DataFrame): DataFrame =
          df.select(col("o_orderkey").as("_KEY_o_orderkey"),
            lit(seq).as("_SEQUENCE_NUMBER"),
            lit(0).cast("tinyint").as("_VALUE_KIND"),
            col("o_orderkey"), col("o_cnt"), col("o_last"),
            col("o_ba"), col("o_tag"))
        val kv1 = kv(1L, base
          .withColumn("o_cnt",
            when(col("o_orderkey") % 10 === 0,
              lit(null).cast("bigint")).otherwise(lit(1L)))
          .withColumn("o_last", col("o_totalprice"))
          .withColumn("o_ba", lit(true))
          .withColumn("o_tag", col("o_orderstatus")))
        val kv2 = kv(2L, base
          .filter((col("o_orderkey") % 10).isin(3, 4))
          .withColumn("o_cnt", lit(1L))
          .withColumn("o_last", lit(null).cast("double"))
          .withColumn("o_ba", col("o_orderkey") % 10 =!= 3)
          .withColumn("o_tag", lit("Z")))
        val fields =
          """{"id":0,"name":"o_orderkey","type":"BIGINT"},
            |{"id":1,"name":"o_cnt","type":"BIGINT"},
            |{"id":2,"name":"o_last","type":"DOUBLE"},
            |{"id":3,"name":"o_ba","type":"BOOLEAN"},
            |{"id":4,"name":"o_tag","type":"STRING"}""".stripMargin
        val options =
          """{"merge-engine":"aggregation",
            |"fields.o_cnt.aggregate-function":"count",
            |"fields.o_last.aggregate-function":"last_value",
            |"fields.o_ba.aggregate-function":"bool_and",
            |"fields.o_tag.aggregate-function":"listagg",
            |"fields.o_tag.list-agg-delimiter":"|"}""".stripMargin
        writePaimonPkLayout(root, options, fields, Seq(kv1, kv2),
          highestFieldId = 4)
        root
      })
    }

  private val paimonSgMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the SEQUENCE-GROUP partial-update table q445 reads:
    * o_psq is the sequence column for group {o_totalprice};
    * o_orderstatus stays a plain (last-non-null) column. Snapshot 1
    * inserts all %10<5 keys at ×1 price / o_psq=10 / real status.
    * Snapshot 2 (+U) advances the group for %10∈(3,4): price ×2 at
    * o_psq=20 (wins), status NULL (plain — must not erase). Snapshot
    * 3 (+U) tries %10∈(2,3) at ×9 with o_psq=5 — BELOW both current
    * group sequences, so the group must NOT update (a global-order
    * merge would take the ×9). Memoized per (sf-dir). */
  private def authorPaimonSeqGroupTable(s: SparkSession,
                                        dir: String): String =
    paimonSgMemo.synchronized {
      paimonSgMemo.getOrElseUpdate(dir, {
        val root =
          s"/tmp/graft_paimon/sg_${Integer.toHexString(dir.hashCode)}"
        def kvSg(seq: Long, kind: Int, keyFilter: Column => Column,
                 priceMult: Option[Double], psq: Long,
                 status: Boolean): DataFrame = {
          val base = Tables.df(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus"))
            .filter(col("o_orderkey") % 10 < 5)
            .filter(keyFilter(col("o_orderkey")))
          base.select(col("o_orderkey").as("_KEY_o_orderkey"),
            lit(seq).as("_SEQUENCE_NUMBER"),
            lit(kind).cast("tinyint").as("_VALUE_KIND"),
            col("o_orderkey"),
            priceMult.map(m => (col("o_totalprice") * m)
              .as("o_totalprice"))
              .getOrElse(lit(null).cast("double").as("o_totalprice")),
            lit(psq).as("o_psq"),
            (if (status) col("o_orderstatus")
             else lit(null).cast("string")).as("o_orderstatus"))
        }
        val fields =
          """{"id":0,"name":"o_orderkey","type":"BIGINT"},
            |{"id":1,"name":"o_totalprice","type":"DOUBLE"},
            |{"id":2,"name":"o_psq","type":"BIGINT"},
            |{"id":3,"name":"o_orderstatus","type":"STRING"}"""
            .stripMargin
        val options =
          """{"merge-engine":"partial-update",
            |"fields.o_psq.sequence-group":"o_totalprice"}""".stripMargin
        writePaimonPkLayout(root, options, fields, Seq(
          kvSg(1L, 0, _ => lit(true), Some(1.0), psq = 10L,
            status = true),
          kvSg(2L, 2, k => (k % 10).isin(3, 4), Some(2.0), psq = 20L,
            status = false),
          kvSg(3L, 2, k => (k % 10).isin(2, 3), Some(9.0), psq = 5L,
            status = false)), highestFieldId = 3)
        root
      })
    }

  private val paimonMemo = scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-snapshot Paimon-layout append-only lineitem table
    * used by q397/q398 (see q397's comment for the snapshot layout).
    * Manifest lists/manifests are genuine Avro with the layout's
    * `_FILE_NAME`/`_KIND`/`_BUCKET`/`_FILE` field names; snapshot 2
    * nets base(A∪B) + delta(DELETE A, ADD C) to B∪C. Bounded
    * driver-side scaffolding, memoized per sf-dir. */
  private def authorPaimonTable(s: SparkSession, dir: String): String =
    paimonMemo.synchronized {
      paimonMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_paimon/li_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
          Files.createDirectories(Paths.get(root, d))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        def dataFile(b: Int): String = {
          val name = s"data-b$b.parquet"
          LakeFiles.Local(root).parquet(
            src.filter(col("l_orderkey") % 10 === b), s"bucket-0/$name")
          name
        }
        val (fa, fb, fc) = (dataFile(0), dataFile(1), dataFile(2))
        val lake = LakeFiles.Local(root)
        import s.implicits._
        // manifest rows: _KIND (0 ADD / 1 DELETE), _BUCKET, _FILE struct
        def manifest(rel: String, entries: (Int, String)*): Unit =
          lake.avro(entries.toSeq.toDF("_KIND", "_fn")
            .select(col("_KIND"), lit(0).as("_BUCKET"),
              struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
        manifest("manifest/m-ab.avro", (0, fa), (0, fb))
        manifest("manifest/m-delac.avro", (1, fa), (0, fc))
        def manifestList(rel: String, names: String*): Unit =
          lake.avro(
            if (names.isEmpty)
              Seq.empty[String].toDF("_FILE_NAME")
            else names.toSeq.toDF("_FILE_NAME"), rel)
        manifestList("manifest/ml-empty.avro")
        manifestList("manifest/ml-ab.avro", "m-ab.avro")
        manifestList("manifest/ml-delac.avro", "m-delac.avro")
        val schemaJson =
          """{"id":0,"fields":[
            | {"id":0,"name":"l_orderkey","type":"BIGINT"},
            | {"id":1,"name":"l_quantity","type":"DOUBLE"},
            | {"id":2,"name":"l_extendedprice","type":"DOUBLE"},
            | {"id":3,"name":"l_returnflag","type":"STRING"}],
            |"highestFieldId":3,"partitionKeys":[],"primaryKeys":[],
            |"options":{"file.format":"parquet"}}""".stripMargin
        Files.writeString(Paths.get(root, "schema", "schema-0"), schemaJson)
        def snapJson(id: Long, base: String, delta: String): String =
          s"""{"version":3,"id":$id,"schemaId":0,
             |"baseManifestList":${jstr(base)},
             |"deltaManifestList":${jstr(delta)},
             |"commitKind":"APPEND","commitUser":"graft",
             |"commitIdentifier":$id,"timeMillis":${id * 1000}}"""
            .stripMargin
        Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
          snapJson(1, "ml-empty.avro", "ml-ab.avro"))
        Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
          snapJson(2, "ml-ab.avro", "ml-delac.avro"))
        Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
        // a TAG pinning snapshot 1 — Paimon tag files hold a full
        // copy of the snapshot JSON (readable even after expiry)
        Files.createDirectories(Paths.get(root, "tag"))
        Files.writeString(Paths.get(root, "tag", "tag-prewipe"),
          snapJson(1, "ml-empty.avro", "ml-ab.avro"))
        root
      })
    }

  private val paimonPkMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the two-snapshot Paimon PRIMARY-KEY table used by
    * q407/q408 (see q407's comment for the upsert algebra). Data
    * files hold KeyValue rows — `_KEY_o_orderkey`, `_SEQUENCE_NUMBER`,
    * `_VALUE_KIND` (0 +I / 2 +U / 3 -D), then the value columns — the
    * deduplicate-engine parquet layout. Delete rows retain their last
    * values (as real compactions may); the merge must drop them by
    * KIND, not by null-ness. Memoized per sf-dir. */
  private def authorPaimonPkTable(s: SparkSession, dir: String): String =
    paimonPkMemo.synchronized {
      paimonPkMemo.getOrElseUpdate(dir,
        buildPaimonPkTable(s, dir,
          s"/tmp/graft_paimon/pk_${Integer.toHexString(dir.hashCode)}"))
    }

  /** The PK-table q492 FULL-COMPACTS: same content as
    * [[authorPaimonPkTable]] but NOT memoized (the query appends a
    * COMPACT snapshot) and under its own root. */
  private def authorPaimonPkCompactTable(s: SparkSession,
                                         dir: String): String =
    buildPaimonPkTable(s, dir,
      s"/tmp/graft_paimon/pkcompact_${Integer.toHexString(dir.hashCode)}")

  private val icebergBenchSrcMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** The MEMOIZED bucket[4] Iceberg source q503 copies per bench
    * pass: lineitem %10<5 across four unpartitioned-on-disk files
    * under a bucket[4](l_orderkey) spec — the compaction computes
    * the bucket ordinals from the spec's murmur3 at rewrite time. */
  private def authorIcebergBenchCompactSrc(s: SparkSession,
                                           dir: String): String =
    icebergBenchSrcMemo.synchronized {
      icebergBenchSrcMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_iceberg/benchsrc_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        Files.createDirectories(Paths.get(root, "metadata"))
        Files.createDirectories(Paths.get(root, "data"))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_returnflag"))
          .filter(col("l_orderkey") % 10 < 5)
        val names = (0 until 4).map { q =>
          val rel = s"data/h$q.parquet"
          LakeFiles.Local(root).parquet(graft.sources.IcebergLite
            .stampFieldIds(src.filter(col("l_orderkey") % 4 === q),
              Map("l_orderkey" -> 1, "l_quantity" -> 2,
                "l_returnflag" -> 3)), rel)
          rel
        }
        val lake = LakeFiles.Local(root)
        import s.implicits._
        lake.avro(names.toDF("file_path")
          .select(lit(1).as("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")),
          "metadata/m1.avro")
        lake.avro(Seq("metadata/m1.avro").toDF("manifest_path")
          .select(col("manifest_path"), lit(0).as("content")),
          "metadata/snap-1.avro")
        Files.writeString(
          Paths.get(root, "metadata", "v1.metadata.json"),
          s"""{"format-version":2,"location":${jstr(root)},
             |"current-schema-id":0,
             |"schemas":[{"schema-id":0,"type":"struct","fields":[
             |  {"id":1,"name":"l_orderkey","required":false,"type":"long"},
             |  {"id":2,"name":"l_quantity","required":false,"type":"double"},
             |  {"id":3,"name":"l_returnflag","required":false,"type":"string"}]}],
             |"partition-specs":[{"spec-id":0,"fields":[
             |  {"name":"lo_bucket","transform":"bucket[4]","source-id":1,"field-id":1000}]}],
             |"default-spec-id":0,
             |"current-snapshot-id":1,
             |"snapshots":[
             | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
            .stripMargin)
        Files.writeString(
          Paths.get(root, "metadata", "version-hint.text"), "1")
        root
      })
    }

  /** The FRESH unpartitioned Iceberg table q500's keyed update and
    * q504's predicate delete mutate (NOT memoized; `tag` keeps their
    * roots apart): one snapshot of orders %10<5, field-id-stamped. */
  private def authorIcebergKeyedTable(s: SparkSession, dir: String,
                                      tag: String = "keyed",
                                      partitioned: Boolean = false)
  : String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_iceberg/${tag}_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val src = Tables.df(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 10 < 5)
    LakeFiles.Local(root).parquet(
      graft.sources.IcebergLite.stampFieldIds(src,
        Map("o_orderkey" -> 1, "o_totalprice" -> 2, "o_orderstatus" -> 3)),
      "data/h0.parquet")
    val lake = LakeFiles.Local(root)
    import s.implicits._
    lake.avro(Seq((1, 1L, "data/h0.parquet"))
      .toDF("status", "sequence_number", "file_path")
      .select(col("status"), col("sequence_number"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      "metadata/m1.avro")
    lake.avro(Seq(("metadata/m1.avro", 0, 1L))
      .toDF("manifest_path", "content", "sequence_number"),
      "metadata/snap-1.avro")
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"o_orderkey","required":false,"type":"long"},
         |  {"id":2,"name":"o_totalprice","required":false,"type":"double"},
         |  {"id":3,"name":"o_orderstatus","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[${
      if (partitioned)
        """{"name":"o_orderstatus","transform":"identity",""" +
          """"source-id":3,"field-id":1000}"""
      else ""}]}],
         |"default-spec-id":0,
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
        .stripMargin)
    Files.writeString(
      Paths.get(root, "metadata", "version-hint.text"), "1")
    root
  }

  /** The FRESH bucket[4]-partitioned Iceberg table q498 compacts (NOT
    * memoized — compaction mutates it): two unpartitioned-on-disk
    * data files of orders %10<2 under a bucket[4](o_orderkey) spec;
    * the compaction computes the partition values from the spec's
    * murmur3 at rewrite time. */
  private def authorIcebergBucketTable(s: SparkSession,
                                       dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_iceberg/bucket_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val src = Tables.df(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 10 < 2)
    val lake = LakeFiles.Local(root)
    for (h <- 0 to 1)
      lake.parquet(graft.sources.IcebergLite.stampFieldIds(
        src.filter(col("o_orderkey") % 10 === h),
        Map("o_orderkey" -> 1, "o_totalprice" -> 2,
          "o_orderstatus" -> 3)), s"data/h$h.parquet")
    import s.implicits._
    lake.avro(Seq("data/h0.parquet", "data/h1.parquet").toDF("file_path")
      .select(lit(1).as("status"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      "metadata/m1.avro")
    lake.avro(Seq("metadata/m1.avro").toDF("manifest_path")
      .select(col("manifest_path"), lit(0).as("content")),
      "metadata/snap-1.avro")
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"o_orderkey","required":false,"type":"long"},
         |  {"id":2,"name":"o_totalprice","required":false,"type":"double"},
         |  {"id":3,"name":"o_orderstatus","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"o_bucket","transform":"bucket[4]","source-id":1,"field-id":1000}]}],
         |"default-spec-id":0,
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
        .stripMargin)
    Files.writeString(
      Paths.get(root, "metadata", "version-hint.text"), "1")
    root
  }

  /** The FRESH deduplicate PK table q497's writers mutate (NOT
    * memoized — upsert/delete/compact change it, so every invocation
    * restarts clean): one snapshot, orders %10<5 as +I KeyValue rows
    * at sequence 1 under bucket-0. */
  private def authorPaimonPkWriteTable(s: SparkSession,
                                       dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_paimon/pkwrite_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    val base = Tables.df(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 10 < 5)
      .select(col("o_orderkey").as("_KEY_o_orderkey"),
        lit(1L).as("_SEQUENCE_NUMBER"),
        lit(0).cast("tinyint").as("_VALUE_KIND"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    LakeFiles.Local(root).parquet(base, "bucket-0/kv0.parquet")
    val lake = LakeFiles.Local(root)
    import s.implicits._
    lake.avro(Seq((0, "kv0.parquet")).toDF("_KIND", "_fn")
      .select(col("_KIND"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-0.avro")
    lake.avro(Seq.empty[String].toDF("_FILE_NAME"),
      "manifest/ml-empty.avro")
    lake.avro(Seq("m-0.avro").toDF("_FILE_NAME"), "manifest/ml-0.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"o_orderkey","type":"BIGINT"},
        | {"id":1,"name":"o_totalprice","type":"DOUBLE"},
        | {"id":2,"name":"o_orderstatus","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":[],
        |"primaryKeys":["o_orderkey"],
        |"options":{"file.format":"parquet"}}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-empty.avro",
        |"deltaManifestList":"ml-0.avro",
        |"commitKind":"APPEND","commitUser":"graft",
        |"commitIdentifier":1,"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    root
  }

  private def buildPaimonPkTable(s: SparkSession, dir: String,
                                 root: String): String = {
    locally {
      locally {
        import java.nio.file.{Files, Paths}
        rm(new java.io.File(root))
        for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
          Files.createDirectories(Paths.get(root, d))
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        def kv(df: DataFrame, seq: Long, kind: Int): DataFrame =
          df.select(col("o_orderkey").as("_KEY_o_orderkey"),
            lit(seq).as("_SEQUENCE_NUMBER"),
            lit(kind).cast("tinyint").as("_VALUE_KIND"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val lake = LakeFiles.Local(root)
        val (fa, fb) = ("kv-inserts.parquet", "kv-upserts.parquet")
        lake.parquet(kv(base, 1L, 0), s"bucket-0/$fa")
        val upserts =
          kv(base.filter((col("o_orderkey") % 10).isin(3, 4))
            .withColumn("o_totalprice", col("o_totalprice") * 2), 2L, 2)
            .unionByName(
              kv(base.filter(col("o_orderkey") % 10 === 0), 2L, 3))
        lake.parquet(upserts, s"bucket-0/$fb")
        // changelog-producer=input materialization: snapshot 2's raw
        // input rows, named by its changelogManifestList (q421 reads
        // them back as the change feed)
        lake.parquet(upserts, "bucket-0/changelog-2.parquet")
        import s.implicits._
        def manifest(rel: String, entries: (Int, String)*): Unit =
          lake.avro(entries.toSeq.toDF("_KIND", "_fn")
            .select(col("_KIND"), lit(0).as("_BUCKET"),
              struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
        manifest("manifest/m-ins.avro", (0, fa))
        manifest("manifest/m-ups.avro", (0, fb))
        manifest("manifest/m-cl.avro", (0, "changelog-2.parquet"))
        def manifestList(rel: String, names: String*): Unit =
          lake.avro(
            if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
            else names.toSeq.toDF("_FILE_NAME"), rel)
        manifestList("manifest/ml-empty.avro")
        manifestList("manifest/ml-ins.avro", "m-ins.avro")
        manifestList("manifest/ml-ups.avro", "m-ups.avro")
        manifestList("manifest/ml-cl.avro", "m-cl.avro")
        val schemaJson =
          """{"id":0,"fields":[
            | {"id":0,"name":"o_orderkey","type":"BIGINT"},
            | {"id":1,"name":"o_totalprice","type":"DOUBLE"},
            | {"id":2,"name":"o_orderstatus","type":"STRING"}],
            |"highestFieldId":2,"partitionKeys":[],
            |"primaryKeys":["o_orderkey"],
            |"options":{"file.format":"parquet"}}""".stripMargin
        Files.writeString(Paths.get(root, "schema", "schema-0"), schemaJson)
        def snapJson(id: Long, bs: String, dl: String,
                     cl: Option[String] = None): String =
          s"""{"version":3,"id":$id,"schemaId":0,
             |"baseManifestList":${jstr(bs)},
             |"deltaManifestList":${jstr(dl)},""".stripMargin +
            cl.map(c => s"""\n"changelogManifestList":${jstr(c)},""")
              .getOrElse("") +
            s"""\n"commitKind":"APPEND","commitUser":"graft",
               |"commitIdentifier":$id,"timeMillis":0}""".stripMargin
        Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
          snapJson(1, "ml-empty.avro", "ml-ins.avro"))
        Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
          snapJson(2, "ml-ins.avro", "ml-ups.avro", Some("ml-cl.avro")))
        Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
        root
      }
    }
  }

  /** Authors the PK table q468 streams the CHANGELOG of. Same content
    * as [[authorPaimonPkTable]] (snapshot 1 inserts %10<5, snapshot 2
    * upserts ×2 on %10∈(3,4) and deletes %10=0, changelog-producer=
    * input materialization for snapshot 2) but a separate root with
    * ONLY snapshot 1 published (LATEST=1) — the query publishes
    * snapshot 2 mid-stream via [[appendPaimonClSnapshot]]. NOT
    * memoized: each invocation rebuilds for determinism. */
  private def authorPaimonClStreamTable(s: SparkSession,
                                        dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root =
      s"/tmp/graft_paimonstream/cl_${Integer.toHexString(dir.hashCode)}"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    val base = Tables.df(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .filter(col("o_orderkey") % 10 < 5)
    def kv(df: DataFrame, seq: Long, kind: Int): DataFrame =
      df.select(col("o_orderkey").as("_KEY_o_orderkey"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val lake = LakeFiles.Local(root)
    val (fa, fb) = ("kv-inserts.parquet", "kv-upserts.parquet")
    lake.parquet(kv(base, 1L, 0), s"bucket-0/$fa")
    val upserts =
      kv(base.filter((col("o_orderkey") % 10).isin(3, 4))
        .withColumn("o_totalprice", col("o_totalprice") * 2), 2L, 2)
        .unionByName(
          kv(base.filter(col("o_orderkey") % 10 === 0), 2L, 3))
    lake.parquet(upserts, s"bucket-0/$fb")
    lake.parquet(upserts, "bucket-0/changelog-2.parquet")
    import s.implicits._
    def manifest(rel: String, entries: (Int, String)*): Unit =
      lake.avro(entries.toSeq.toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
    manifest("manifest/m-ins.avro", (0, fa))
    manifest("manifest/m-ups.avro", (0, fb))
    manifest("manifest/m-cl.avro", (0, "changelog-2.parquet"))
    def manifestList(rel: String, names: String*): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toSeq.toDF("_FILE_NAME"), rel)
    manifestList("manifest/ml-empty.avro")
    manifestList("manifest/ml-ins.avro", "m-ins.avro")
    manifestList("manifest/ml-ups.avro", "m-ups.avro")
    manifestList("manifest/ml-cl.avro", "m-cl.avro")
    val schemaJson =
      """{"id":0,"fields":[
        | {"id":0,"name":"o_orderkey","type":"BIGINT"},
        | {"id":1,"name":"o_totalprice","type":"DOUBLE"},
        | {"id":2,"name":"o_orderstatus","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":[],
        |"primaryKeys":["o_orderkey"],
        |"options":{"file.format":"parquet",
        | "changelog-producer":"input"}}""".stripMargin
    Files.writeString(Paths.get(root, "schema", "schema-0"), schemaJson)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      paimonClSnapJson(1, "ml-empty.avro", "ml-ins.avro"))
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    root
  }

  private def paimonClSnapJson(id: Long, bs: String, dl: String,
                               cl: Option[String] = None): String =
    s"""{"version":3,"id":$id,"schemaId":0,
       |"baseManifestList":${jstr(bs)},
       |"deltaManifestList":${jstr(dl)},""".stripMargin +
      cl.map(c => s"""\n"changelogManifestList":${jstr(c)},""")
        .getOrElse("") +
      s"""\n"commitKind":"APPEND","commitUser":"graft",
         |"commitIdentifier":$id,"timeMillis":0}""".stripMargin

  /** Publishes q468's snapshot 2 (upserts + its input changelog) —
    * snapshot file first, LATEST hint last, the format's own commit
    * order. */
  private def appendPaimonClSnapshot(root: String): Unit = {
    import java.nio.file.{Files, Paths}
    Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
      paimonClSnapJson(2, "ml-ins.avro", "ml-ups.avro",
        Some("ml-cl.avro")))
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
  }

  private val paimonFcMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the changelog-producer=full-compaction PK table q462
    * reads: snapshot 1 inserts all %10<5 keys; snapshot 2 upserts
    * %10∈(3,4) at ×2 and -D-deletes %10=0 — with NO materialized
    * changelog files (the producer's point), so the changelog is the
    * merge diff of snapshots 2 and 1. Memoized per sf-dir. */
  private def authorPaimonFcTable(s: SparkSession, dir: String): String =
    paimonFcMemo.synchronized {
      paimonFcMemo.getOrElseUpdate(dir, {
        val root =
          s"/tmp/graft_paimon/fc_${Integer.toHexString(dir.hashCode)}"
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        def kv(df: DataFrame, seq: Long, kind: Int): DataFrame =
          df.select(col("o_orderkey").as("_KEY_o_orderkey"),
            lit(seq).as("_SEQUENCE_NUMBER"),
            lit(kind).cast("tinyint").as("_VALUE_KIND"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        writePaimonPkLayout(root,
          """{"changelog-producer":"full-compaction",
            |"file.format":"parquet"}""".stripMargin,
          ordersPkFields, Seq(
            kv(base, 1L, 0),
            kv(base.filter((col("o_orderkey") % 10).isin(3, 4))
              .withColumn("o_totalprice", col("o_totalprice") * 2),
              2L, 2)
              .unionByName(
                kv(base.filter(col("o_orderkey") % 10 === 0), 2L, 3))))
        root
      })
    }

  private val paimonDvMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the DELETION-VECTOR PK table q458 reads. Snapshot 1
    * inserts all %10<5 keys (kv-base.parquet, seq 1). Snapshot 2 adds
    * ×2 upserts for %10∈(3,4) (seq 2) AND an index manifest whose
    * DELETION_VECTORS entry kills, inside kv-base.parquet, the rows
    * of keys %10∈(0,1) (a plain DV delete — no -D row anywhere) plus
    * the superseded %10=3 rows (what a lookup-compaction writer
    * marks; the merge must agree). The DV index file is the real v1
    * layout: version byte, [len][magic+32-bit RoaringBitmap][crc].
    * Memoized per sf-dir. */
  private def authorPaimonDvTable(s: SparkSession, dir: String): String =
    paimonDvMemo.synchronized {
      paimonDvMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_paimon/dv_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        for (d <- Seq("snapshot", "schema", "manifest", "bucket-0",
          "index"))
          Files.createDirectories(Paths.get(root, d))
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        def kv(df: DataFrame, seq: Long, kind: Int): DataFrame =
          df.select(col("o_orderkey").as("_KEY_o_orderkey"),
            lit(seq).as("_SEQUENCE_NUMBER"),
            lit(kind).cast("tinyint").as("_VALUE_KIND"),
            col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val lake = LakeFiles.Local(root)
        val (fa, fb) = ("kv-base.parquet", "kv-ups.parquet")
        lake.parquet(kv(base, 1L, 0), s"bucket-0/$fa")
        lake.parquet(
          kv(base.filter((col("o_orderkey") % 10).isin(3, 4))
            .withColumn("o_totalprice", col("o_totalprice") * 2), 2L, 2),
          s"bucket-0/$fb")
        // dead positions come from the WRITTEN file's own row ordinals
        val deadPos = s.read.parquet(s"$root/bucket-0/$fa")
          .select(col("_metadata.row_index"))
          .where((col("o_orderkey") % 10).isin(0, 1, 3))
          .collect().map(_.getLong(0).toInt).sorted
        // v1 DV index file: [version 1][len BE][magic BE + bitmap][crc]
        val bmp = new org.roaringbitmap.RoaringBitmap()
        deadPos.foreach(bmp.add)
        val bos = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(bos)
        dos.writeInt(1581511376)
        bmp.serialize(dos)
        dos.flush()
        val blob = bos.toByteArray
        val crc = new java.util.zip.CRC32
        crc.update(blob)
        val idxName = "index-dv-0"
        val idxOut = new java.io.DataOutputStream(
          new java.io.FileOutputStream(s"$root/index/$idxName"))
        idxOut.writeByte(1)
        idxOut.writeInt(blob.length)
        idxOut.write(blob)
        idxOut.writeInt(crc.getValue.toInt)
        idxOut.close()
        import s.implicits._
        def manifest(rel: String, entries: (Int, String)*): Unit =
          lake.avro(entries.toSeq.toDF("_KIND", "_fn")
            .select(col("_KIND"), lit(0).as("_BUCKET"),
              struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
        manifest("manifest/m-base.avro", (0, fa))
        manifest("manifest/m-ups.avro", (0, fb))
        // index manifest: the real nested IndexManifestEntry shape
        lake.avro(Seq(0).toDF("_KIND")
          .select(col("_KIND"), lit(Array.empty[Byte]).as("_PARTITION"),
            lit(0).as("_BUCKET"),
            struct(lit("DELETION_VECTORS").as("_INDEX_TYPE"),
              lit(idxName).as("_FILE_NAME"),
              lit(9L + blob.length).as("_FILE_SIZE"),
              lit(deadPos.length.toLong).as("_ROW_COUNT"),
              array(struct(lit(fa).as("_FILE_NAME"),
                lit(1).as("_OFFSET"),
                lit(blob.length).as("_LENGTH"),
                lit(deadPos.length.toLong).as("_CARDINALITY")))
                .as("_DELETIONS_VECTORS_RANGES")).as("_INDEX_FILE")),
          "manifest/idx-m-0.avro")
        def manifestList(rel: String, names: String*): Unit =
          lake.avro(
            if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
            else names.toSeq.toDF("_FILE_NAME"), rel)
        manifestList("manifest/ml-empty.avro")
        manifestList("manifest/ml-base.avro", "m-base.avro")
        manifestList("manifest/ml-ups.avro", "m-ups.avro")
        Files.writeString(Paths.get(root, "schema", "schema-0"),
          """{"id":0,"fields":[
            | {"id":0,"name":"o_orderkey","type":"BIGINT"},
            | {"id":1,"name":"o_totalprice","type":"DOUBLE"},
            | {"id":2,"name":"o_orderstatus","type":"STRING"}],
            |"highestFieldId":2,"partitionKeys":[],
            |"primaryKeys":["o_orderkey"],
            |"options":{"file.format":"parquet",
            | "deletion-vectors.enabled":"true"}}""".stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
          """{"version":3,"id":1,"schemaId":0,
            |"baseManifestList":"ml-empty.avro",
            |"deltaManifestList":"ml-base.avro",
            |"commitKind":"APPEND","commitUser":"graft",
            |"commitIdentifier":1,"timeMillis":0}""".stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
          """{"version":3,"id":2,"schemaId":0,
            |"baseManifestList":"ml-base.avro",
            |"deltaManifestList":"ml-ups.avro",
            |"indexManifest":"idx-m-0.avro",
            |"commitKind":"APPEND","commitUser":"graft",
            |"commitIdentifier":2,"timeMillis":0}""".stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
        root
      })
    }

  private val paimonPartMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the PARTITIONED append-only Paimon table used by q426:
    * one `l_returnflag=<v>/bucket-0/` directory per flag value, data
    * files carrying only the NON-partition columns (Paimon's layout),
    * and each manifest entry's `_PARTITION` holding the flag as a
    * serialized BinaryRow (layout: BinaryRowCodec). Memoized per
    * sf-dir. */
  private def authorPaimonPartTable(s: SparkSession, dir: String): String =
    paimonPartMemo.synchronized {
      paimonPartMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_paimon/part_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        for (d <- Seq("snapshot", "schema", "manifest"))
          Files.createDirectories(Paths.get(root, d))
        val src = Tables.df(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val flags = src.select(col("l_returnflag")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        val lake = LakeFiles.Local(root)
        for (f <- flags)
          lake.parquet(src.filter(col("l_returnflag") === f)
            .drop("l_returnflag"), s"l_returnflag=$f/bucket-0/data.parquet")
        import s.implicits._
        lake.avro(flags.map(f => (0, "data.parquet",
          graft.sources.BinaryRowCodec.encode(Seq(f),
            Seq(org.apache.spark.sql.types.StringType))))
          .toDF("_KIND", "_fn", "_PARTITION")
          .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
            struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
          "manifest/m-part.avro")
        lake.avro(Seq.empty[String].toDF("_FILE_NAME"),
          "manifest/ml-empty.avro")
        lake.avro(Seq("m-part.avro").toDF("_FILE_NAME"),
          "manifest/ml-part.avro")
        Files.writeString(Paths.get(root, "schema", "schema-0"),
          """{"id":0,"fields":[
            | {"id":0,"name":"l_orderkey","type":"BIGINT"},
            | {"id":1,"name":"l_quantity","type":"DOUBLE"},
            | {"id":2,"name":"l_extendedprice","type":"DOUBLE"},
            | {"id":3,"name":"l_returnflag","type":"STRING"}],
            |"highestFieldId":3,"partitionKeys":["l_returnflag"],
            |"primaryKeys":[],"options":{"file.format":"parquet"}}"""
            .stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
          """{"version":3,"id":1,"schemaId":0,
            |"baseManifestList":"ml-empty.avro",
            |"deltaManifestList":"ml-part.avro",
            |"commitKind":"APPEND","commitUser":"graft",
            |"commitIdentifier":1,"timeMillis":1000}""".stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
        root
      })
    }

  private val paimonPartPkMemo =
    scala.collection.mutable.Map.empty[String, String]

  /** Authors the PARTITIONED primary-key Paimon table used by q427:
    * partitioned by o_orderstatus, primary key (o_orderstatus,
    * o_orderkey) — so the STORED KeyValue key is the TRIMMED
    * `_KEY_o_orderkey` (Paimon strips partition columns from keys) and
    * the merge must run per partition. Each partition holds the same
    * upsert algebra as q407: inserts at sequence 1, then doubled
    * updates for o_orderkey%10 in (3,4) and deletes for %10=0 at
    * sequence 2. Memoized per sf-dir. */
  private def authorPaimonPartPkTable(s: SparkSession,
                                      dir: String): String =
    paimonPartPkMemo.synchronized {
      paimonPartPkMemo.getOrElseUpdate(dir, {
        import java.nio.file.{Files, Paths}
        val root =
          s"/tmp/graft_paimon/ppk_${Integer.toHexString(dir.hashCode)}"
        rm(new java.io.File(root))
        for (d <- Seq("snapshot", "schema", "manifest"))
          Files.createDirectories(Paths.get(root, d))
        val base = Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .filter(col("o_orderkey") % 10 < 5)
        val statuses = base.select(col("o_orderstatus")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        // KeyValue rows WITHOUT the partition column (trimmed key +
        // sequence + kind + non-partition value columns)
        def kv(df: DataFrame, seq: Long, kind: Int): DataFrame =
          df.select(col("o_orderkey").as("_KEY_o_orderkey"),
            lit(seq).as("_SEQUENCE_NUMBER"),
            lit(kind).cast("tinyint").as("_VALUE_KIND"),
            col("o_orderkey"), col("o_totalprice"))
        val lake = LakeFiles.Local(root)
        for (st <- statuses) {
          val slice = base.filter(col("o_orderstatus") === st)
          lake.parquet(kv(slice, 1L, 0),
            s"o_orderstatus=$st/bucket-0/kv-ins.parquet")
          lake.parquet(
            kv(slice.filter((col("o_orderkey") % 10).isin(3, 4))
              .withColumn("o_totalprice", col("o_totalprice") * 2), 2L, 2)
              .unionByName(
                kv(slice.filter(col("o_orderkey") % 10 === 0), 2L, 3)),
            s"o_orderstatus=$st/bucket-0/kv-ups.parquet")
        }
        import s.implicits._
        def manifest(rel: String, name: String): Unit =
          lake.avro(statuses.map(st => (0, name,
            graft.sources.BinaryRowCodec.encode(Seq(st),
              Seq(org.apache.spark.sql.types.StringType))))
            .toDF("_KIND", "_fn", "_PARTITION")
            .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
              struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
        manifest("manifest/m-ins.avro", "kv-ins.parquet")
        manifest("manifest/m-ups.avro", "kv-ups.parquet")
        // the upsert commit's CHANGELOG (producer=input materializes
        // the raw input rows — here the same KeyValue file serves)
        manifest("manifest/m-cl.avro", "kv-ups.parquet")
        def mlist(rel: String, names: String*): Unit =
          lake.avro(
            if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
            else names.toSeq.toDF("_FILE_NAME"), rel)
        mlist("manifest/ml-empty.avro")
        mlist("manifest/ml-ins.avro", "m-ins.avro")
        mlist("manifest/ml-ups.avro", "m-ups.avro")
        mlist("manifest/ml-cl.avro", "m-cl.avro")
        Files.writeString(Paths.get(root, "schema", "schema-0"),
          """{"id":0,"fields":[
            | {"id":0,"name":"o_orderkey","type":"BIGINT"},
            | {"id":1,"name":"o_totalprice","type":"DOUBLE"},
            | {"id":2,"name":"o_orderstatus","type":"STRING"}],
            |"highestFieldId":2,
            |"partitionKeys":["o_orderstatus"],
            |"primaryKeys":["o_orderstatus","o_orderkey"],
            |"options":{"file.format":"parquet"}}""".stripMargin)
        def snapJson(id: Long, bs: String, dl: String,
                     cl: Option[String] = None): String =
          s"""{"version":3,"id":$id,"schemaId":0,
             |"baseManifestList":${jstr(bs)},
             |"deltaManifestList":${jstr(dl)},${cl.map(c =>
            s""""changelogManifestList":${jstr(c)},""").getOrElse("")}
             |"commitKind":"APPEND","commitUser":"graft",
             |"commitIdentifier":$id,"timeMillis":0}""".stripMargin
        Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
          snapJson(1, "ml-empty.avro", "ml-ins.avro"))
        Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
          snapJson(2, "ml-ins.avro", "ml-ups.avro", Some("ml-cl.avro")))
        Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
        root
      })
    }

  /** DuckDB side of q318: the 8 Hilbert rounds unrolled. Each round
    * reads the PREVIOUS round's (hx, hy, hd) — SQL's no-sequencing
    * SELECT semantics give the reflect+transpose swap for free. */
  private val q318OracleSql: String = {
    val keep = "l_orderkey, l_linenumber, l_partkey, l_suppkey"
    val rounds = (7 to 0 by -1).zipWithIndex.map { case (i, k) =>
      val s = 1L << i
      s"""h${k + 1} AS MATERIALIZED (
         |  SELECT $keep,
         |    CASE WHEN ry = 0 THEN
         |        CASE WHEN rx = 1 THEN 255 - hy ELSE hy END
         |      ELSE hx END AS hx,
         |    CASE WHEN ry = 0 THEN
         |        CASE WHEN rx = 1 THEN 255 - hx ELSE hx END
         |      ELSE hy END AS hy,
         |    hd + ${s * s} * xor(3 * rx, ry) AS hd
         |  FROM (SELECT *,
         |      CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM h$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH bounds AS (
       |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
       |    min(l_suppkey) AS smin, max(l_suppkey) AS smax
       |  FROM lineitem),
       |h0 AS MATERIALIZED (
       |  SELECT $keep,
       |    (l_partkey - pmin) * 256 // (pmax - pmin + 1) AS hx,
       |    (l_suppkey - smin) * 256 // (smax - smin + 1) AS hy,
       |    CAST(0 AS BIGINT) AS hd
       |  FROM lineitem, bounds
       |  WHERE l_partkey BETWEEN pmin AND pmin + (pmax - pmin) // 8
       |    AND l_suppkey BETWEEN smin AND smin + (smax - smin) // 4),
       |$rounds
       |SELECT $keep, hd AS hval FROM h8
       |ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "q318_hilbert_box" -> q318OracleSql,
    "q58_decimal" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |   + CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS dec_add,
        | CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |   - CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS dec_sub,
        | CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |   * CAST(l_discount AS DECIMAL(4,2)) AS DOUBLE) AS dec_mul,
        | CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
        |   / CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS dbl_div
        |FROM lineitem WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q59_intervals" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate + INTERVAL 3 DAY AS DATE) AS plus3d,
        | CAST(o_orderdate - INTERVAL 12 HOUR AS DATE) AS minus12h,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
        |   AS plus2m
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q64_bucketed_join" ->
      """SELECT o_orderpriority,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Magic-bits Morton spread, spelled arithmetically: step k ORs in a
    // copy shifted left by 8/4/2/1 and masks with the alternating-bit
    // constants; y is offset one bit. Matches ZOrder.interleave16.
    "q226_zorder_box" ->
      """WITH bounds AS (
        |  SELECT min(l_partkey) AS pmin,
        |    min(l_partkey) + (max(l_partkey) - min(l_partkey)) // 8
        |      AS pmax,
        |    min(l_suppkey) AS smin,
        |    min(l_suppkey) + (max(l_suppkey) - min(l_suppkey)) // 4
        |      AS smax
        |  FROM lineitem),
        |s0 AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    (l_partkey & 65535)::BIGINT AS px,
        |    (l_suppkey & 65535)::BIGINT AS sy
        |  FROM lineitem, bounds
        |  WHERE l_partkey BETWEEN pmin AND pmax
        |    AND l_suppkey BETWEEN smin AND smax),
        |s1 AS (SELECT *, (px | (px << 8)) & 16711935 AS px1,
        |               (sy | (sy << 8)) & 16711935 AS sy1 FROM s0),
        |s2 AS (SELECT *, (px1 | (px1 << 4)) & 252645135 AS px2,
        |               (sy1 | (sy1 << 4)) & 252645135 AS sy2 FROM s1),
        |s3 AS (SELECT *, (px2 | (px2 << 2)) & 858993459 AS px3,
        |               (sy2 | (sy2 << 2)) & 858993459 AS sy3 FROM s2),
        |s4 AS (SELECT *, (px3 | (px3 << 1)) & 1431655765 AS px4,
        |               (sy3 | (sy3 << 1)) & 1431655765 AS sy4 FROM s3)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  (px4 | (sy4 << 1)) AS zval
        |FROM s4 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q273_table_fingerprint" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(h) AS BIGINT) AS sum_fp,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_fp
        |FROM (
        |  SELECT ('0x' || substr(md5(
        |    l_orderkey || '|' || l_linenumber || '|' || l_partkey ||
        |    '|' || l_suppkey || '|' || l_returnflag), 1, 8))::UBIGINT
        |    AS h
        |  FROM lineitem)""".stripMargin,
    "q274_dpp" ->
      """SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_suppkey < 8
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    "q272_zorder3d_box" ->
      """WITH b AS (
        |  SELECT min(l_partkey) AS plo,
        |    min(l_partkey) + (max(l_partkey) - min(l_partkey)) // 4
        |      AS phi,
        |    min(l_suppkey) AS slo,
        |    min(l_suppkey) + (max(l_suppkey) - min(l_suppkey)) // 4
        |      AS shi,
        |    min(l_orderkey) AS olo,
        |    min(l_orderkey) + (max(l_orderkey) - min(l_orderkey)) // 2
        |      AS ohi
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem, b
        |WHERE l_partkey BETWEEN plo AND phi
        |  AND l_suppkey BETWEEN slo AND shi
        |  AND l_orderkey BETWEEN olo AND ohi
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q247_compaction" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // latest snapshot = batches B∪C (commit 1 removed batch A)
    "q389_delta_read" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the clone re-lists the source's live files → q389's census
    "q439_delta_shallow_clone" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // versionAsOf=0 snapshot = batches A∪B (pre-remove)
    "q390_delta_time_travel" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // current Iceberg snapshot = batches B∪C (A tombstoned in snap 2)
    "q391_iceberg_read" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // v2-checkpointed state (A∪B from the sidecars) + JSON append (C)
    "q428_delta_v2_checkpoint" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // renamed table reads both old- and new-named files: batches A∪B,
    // flag column served under its CURRENT name l_flag
    // mapped leg (batch A, old names, no ids) ∪ field-id leg (batch B)
    "q436_iceberg_name_mapping" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // system tables: snapshots 1/2 (APPEND, id*1000 ms), prewipe→1
    "q454_paimon_system_tables" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'APPEND', CAST(1000 AS BIGINT),
        |   'prewipe'),
        |  (CAST(2 AS BIGINT), 'APPEND', CAST(2000 AS BIGINT),
        |   CAST(NULL AS VARCHAR)))
        |  AS t(snapshot_id, commit_kind, time_millis, tag_name)
        |ORDER BY snapshot_id""".stripMargin,
    // metadata tables: the fixture's two refs joined to their
    // snapshots' timestamps
    "q453_iceberg_metadata_tables" ->
      """SELECT * FROM (VALUES
        |  ('main', 'branch', CAST(2 AS BIGINT), CAST(2000 AS BIGINT)),
        |  ('v1', 'tag', CAST(1 AS BIGINT), CAST(1000 AS BIGINT)))
        |  AS t(name, "type", snapshot_id, timestamp_ms)
        |ORDER BY name""".stripMargin,
    // files metadata: per-file record counts recomputed from lineitem
    "q460_iceberg_files_table" ->
      """WITH f AS (
        |  SELECT 'f0a.parquet' AS file_name, '{"m":0}' AS part,
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey % 10 = 0 AND l_quantity <= 25)
        |      AS record_count
        |  UNION ALL
        |  SELECT 'f0b.parquet', '{"m":0}',
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey % 10 = 0 AND l_quantity > 25)
        |  UNION ALL
        |  SELECT 'f1.parquet', '{"m":1}',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey % 10 = 1))
        |SELECT file_name, 'PARQUET' AS file_format,
        |  CAST(record_count AS BIGINT) AS record_count,
        |  CAST(1 AS BOOLEAN) AS size_known, part
        |FROM f ORDER BY file_name""".stripMargin,
    // partitions metadata: m=0 sums two files, m=1 one
    "q461_iceberg_partitions_table" ->
      """WITH p AS (
        |  SELECT '{"m":0}' AS part,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey % 10 = 0)
        |      AS record_count,
        |    2 AS file_count
        |  UNION ALL
        |  SELECT '{"m":1}',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey % 10 = 1),
        |    1)
        |SELECT part, CAST(record_count AS BIGINT) AS record_count,
        |  CAST(file_count AS BIGINT) AS file_count
        |FROM p ORDER BY part""".stripMargin,
    // SQL TVF over the 'prewipe'-tagged Paimon table = q433's census
    "q452_graft_lake_sql" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // initial-default: A rows read 7, B rows their stored %5 value
    "q451_iceberg_initial_default" ->
      """WITH src AS (
        |  SELECT l_returnflag,
        |    CASE WHEN l_orderkey % 10 = 0 THEN 7
        |      ELSE l_orderkey % 5 END AS b
        |  FROM lineitem WHERE l_orderkey % 10 IN (0, 1))
        |SELECT l_returnflag, count(*) AS n,
        | CAST(sum(b) AS BIGINT) AS sum_bonus
        |FROM src GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // v3 DV: every l_quantity>35 ordinal of the %10=0 batch is dead
    "q447_iceberg_v3_dv" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0 AND l_quantity <= 35
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // migrated + deleted: pos-delete kills batch A's quantity<=5
    // rows; eq-delete kills every key with any quantity>40 row
    "q446_iceberg_mapped_deletes" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 IN (0, 1)),
        |live AS (
        |  SELECT * FROM src
        |  WHERE NOT (l_orderkey % 10 = 0 AND l_quantity <= 5)
        |    AND l_orderkey NOT IN (
        |      SELECT l_orderkey FROM src WHERE l_quantity > 40))
        |SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM live GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q425_iceberg_rename" ->
      """SELECT l_returnflag AS l_flag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_flag""".stripMargin,
    // Hudi COW snapshot at instant 002 = batches B∪C (002 rewrote
    // every file group's base file)
    "q394_hudi_cow_read" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // replacecommit replayed: c-groups only = batches B∪C∪D
    "q399_hudi_clustering" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 2, 3)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // instant 001 = batches A∪B (pre-rewrite)
    "q395_hudi_time_travel" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // MOR read-optimized: A∪B everywhere, plus compacted C for flag N
    "q409_hudi_mor_ro" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 10 IN (0, 1)
        |   OR (l_returnflag = 'N' AND l_orderkey % 10 = 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // positional deletes applied: B ∪ (A where quantity ≤ 25)
    "q396_iceberg_pos_delete" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 10 = 1
        |   OR (l_orderkey % 10 = 0 AND NOT (l_quantity > 25))
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // deletion vector applied: batch A minus its quantity > 25 rows
    "q424_delta_deletion_vectors" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 10 IN (0, 1) AND NOT (l_quantity > 25)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // CDF census: inserts @v0 = batch A; pre/postimage @v1 = the
    // l_quantity > 40 slice (postimage doubles l_extendedprice)
    "q420_delta_cdf" ->
      """WITH a AS (
        |  SELECT l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 IN (0, 1)),
        |ch AS (
        |  SELECT 'insert' AS _change_type, 0 AS _commit_version,
        |    l_quantity, l_extendedprice FROM a
        |  UNION ALL
        |  SELECT 'update_preimage', 1, l_quantity, l_extendedprice
        |  FROM a WHERE l_quantity > 40
        |  UNION ALL
        |  SELECT 'update_postimage', 1, l_quantity,
        |    l_extendedprice * 2
        |  FROM a WHERE l_quantity > 40)
        |SELECT _change_type, _commit_version, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM ch
        |GROUP BY _change_type, _commit_version
        |ORDER BY _change_type, _commit_version""".stripMargin,
    // mapped CDF: same change algebra as q420, through physical names
    "q456_delta_cdf_mapped" ->
      """WITH a AS (
        |  SELECT l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 IN (0, 1)),
        |ch AS (
        |  SELECT 'insert' AS _change_type, 0 AS _commit_version,
        |    l_quantity, l_extendedprice FROM a
        |  UNION ALL
        |  SELECT 'update_preimage', 1, l_quantity, l_extendedprice
        |  FROM a WHERE l_quantity > 40
        |  UNION ALL
        |  SELECT 'update_postimage', 1, l_quantity,
        |    l_extendedprice * 2
        |  FROM a WHERE l_quantity > 40)
        |SELECT _change_type, _commit_version, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM ch
        |GROUP BY _change_type, _commit_version
        |ORDER BY _change_type, _commit_version""".stripMargin,
    // per-format post-compaction row counts: delta = A(q<=25)+B,
    // iceberg = A(q<=35, flag≠R)+B(flag≠R), hudi = A+B (upserts keep
    // the count), paimon = orders %10∈(0,1)
    "q475_graft_lake_compact" ->
      """WITH counts AS (
        |  SELECT 'delta' AS fmt, count(*) AS n FROM lineitem
        |  WHERE (l_orderkey % 10 = 0 AND NOT l_quantity > 25)
        |     OR l_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT 'iceberg', count(*) FROM lineitem
        |  WHERE ((l_orderkey % 10 = 0 AND NOT l_quantity > 35)
        |      OR l_orderkey % 10 = 1)
        |    AND l_returnflag <> 'R'
        |  UNION ALL
        |  SELECT 'hudi', count(*) FROM lineitem
        |  WHERE l_orderkey % 10 IN (0, 1)
        |  UNION ALL
        |  SELECT 'paimon', count(*) FROM orders
        |  WHERE o_orderkey % 10 IN (0, 1))
        |SELECT fmt, n FROM counts ORDER BY fmt""".stripMargin,
    // post-expiry: the live-rows census plus exactly one surviving
    // snapshot row
    "q476_iceberg_expire" ->
      """WITH live AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem
        |  WHERE l_orderkey % 10 = 0 AND NOT l_quantity > 35
        |    AND l_returnflag <> 'R'
        |  UNION ALL
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem
        |  WHERE l_orderkey % 10 = 1 AND l_returnflag <> 'R'),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM live GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'meta', 'snapshots', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // read = A (×2 price on q>30) ∪ B; incremental (001, 003] = the
    // ct=002 rows only: A's q>30 upserts at ×2 plus B
    "q473_hudi_cluster" ->
      """WITH a AS (
        |  SELECT l_quantity, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |b AS (
        |  SELECT l_quantity, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 1),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag,
        |    CASE WHEN l_quantity > 30 THEN l_extendedprice * 2
        |         ELSE l_extendedprice END AS p
        |  FROM a
        |  UNION ALL
        |  SELECT 'read', l_returnflag, l_extendedprice FROM b
        |  UNION ALL
        |  SELECT 'incremental', l_returnflag, l_extendedprice * 2
        |  FROM a WHERE l_quantity > 30
        |  UNION ALL
        |  SELECT 'incremental', l_returnflag, l_extendedprice FROM b)
        |SELECT surface, l_returnflag, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM rows_
        |GROUP BY surface, l_returnflag
        |ORDER BY surface, l_returnflag""".stripMargin,
    // post-expiry: the two batches' census plus exactly one surviving
    // snapshot row
    "q477_paimon_expire" ->
      """WITH live AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 IN (0, 1)),
        |rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM live GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'meta', 'snapshots', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // both surfaces = the two appended batches, unchanged by the
    // compaction rewrite
    "q474_paimon_compact" ->
      """WITH live AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 IN (0, 1)),
        |both_ AS (
        |  SELECT 'compacted' AS surface, o_orderstatus, o_totalprice
        |  FROM live
        |  UNION ALL
        |  SELECT 'travel', o_orderstatus, o_totalprice FROM live)
        |SELECT surface, o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM both_
        |GROUP BY surface, o_orderstatus
        |ORDER BY surface, o_orderstatus""".stripMargin,
    // both surfaces = the live rows: A minus q>35 minus flag R, plus
    // B minus flag R — identical censuses under 'compacted' and
    // 'travel'
    "q472_iceberg_compact" ->
      """WITH live AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem
        |  WHERE l_orderkey % 10 = 0 AND NOT l_quantity > 35
        |    AND l_returnflag <> 'R'
        |  UNION ALL
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem
        |  WHERE l_orderkey % 10 = 1 AND l_returnflag <> 'R'),
        |both_ AS (
        |  SELECT 'compacted' AS surface, l_returnflag, l_quantity
        |  FROM live
        |  UNION ALL
        |  SELECT 'travel', l_returnflag, l_quantity FROM live)
        |SELECT surface, l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty
        |FROM both_
        |GROUP BY surface, l_returnflag
        |ORDER BY surface, l_returnflag""".stripMargin,
    // both modes serve the merged rows: %10∈(1,2) original, (3,4) at
    // ×2 price, %10=0 deleted
    "q480_hudi_mor_cluster" ->
      """WITH merged AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 10 IN (3, 4) THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE o_orderkey % 10 < 5 AND o_orderkey % 10 <> 0),
        |both_ AS (
        |  SELECT 'snapshot' AS surface, o_orderstatus, p FROM merged
        |  UNION ALL
        |  SELECT 'ro', o_orderstatus, p FROM merged)
        |SELECT surface, o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM both_
        |GROUP BY surface, o_orderstatus
        |ORDER BY surface, o_orderstatus""".stripMargin,
    // post-vacuum read = A(q<=25) ∪ B; exactly 3 files reclaimed
    "q478_delta_vacuum" ->
      """WITH live AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem
        |  WHERE (l_orderkey % 10 = 0 AND NOT l_quantity > 25)
        |     OR l_orderkey % 10 = 1),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM live GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'vacuum', 'deleted', 3, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // post-clean read = A(×2 on q>30) ∪ B; exactly 3 files reclaimed
    "q479_hudi_clean" ->
      """WITH live AS (
        |  SELECT l_returnflag,
        |    CASE WHEN l_quantity > 30 THEN l_extendedprice * 2
        |         ELSE l_extendedprice END AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT l_returnflag, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 = 1),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM live GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'clean', 'deleted', 3, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // post-compaction: read = A(q<=25) ∪ B; cdf = commits 0-1 only
    // (inserts A∪B, deletes A's q>25) — zero rows from the rewrite
    "q471_delta_compact" ->
      """WITH a AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |b AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 1),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, l_quantity
        |  FROM a WHERE NOT l_quantity > 25
        |  UNION ALL
        |  SELECT 'read', l_returnflag, l_quantity FROM b
        |  UNION ALL
        |  SELECT 'cdf', 'insert', l_quantity FROM a
        |  UNION ALL
        |  SELECT 'cdf', 'insert', l_quantity FROM b
        |  UNION ALL
        |  SELECT 'cdf', 'delete', l_quantity
        |  FROM a WHERE l_quantity > 25)
        |SELECT surface, k, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty
        |FROM rows_
        |GROUP BY surface, k
        |ORDER BY surface, k""".stripMargin,
    // inferred CDC of (001, 002]: gA's rewrite diffs to deletes
    // (%10=0), pre+post images (%10∈(3,4)); gB inserts (%10=5);
    // carried %10∈(1,2) rows silent
    "q469_hudi_cdc" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |ch AS (
        |  SELECT 'delete' AS _change_type, o_totalprice AS p
        |  FROM b WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', o_totalprice
        |  FROM b WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT 'update_postimage', o_totalprice * 2
        |  FROM b WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM b WHERE o_orderkey % 10 = 5)
        |SELECT _change_type, '002' AS _commit_time, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM ch
        |GROUP BY _change_type
        |ORDER BY _change_type, _commit_time""".stripMargin,
    // dispatch-streamed CDF: inserts = batches %10∈(0,1), deletes =
    // the removed %10=1 batch
    "q470_graft_lake_stream" ->
      """WITH b0 AS (
        |  SELECT l_extendedprice FROM lineitem WHERE l_orderkey % 10 = 0),
        |b1 AS (
        |  SELECT l_extendedprice FROM lineitem WHERE l_orderkey % 10 = 1),
        |ch AS (
        |  SELECT 'insert' AS _change_type, l_extendedprice FROM b0
        |  UNION ALL SELECT 'insert', l_extendedprice FROM b1
        |  UNION ALL SELECT 'delete', l_extendedprice FROM b1)
        |SELECT _change_type, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM ch
        |GROUP BY _change_type
        |ORDER BY _change_type""".stripMargin,
    // CDF stream: v0 snapshot as inserts (batch %10=0), v1's blind
    // append as inserts (%10=1), v2's remove as deletes (%10=1)
    "q467_delta_cdf_stream" ->
      """WITH b0 AS (
        |  SELECT l_quantity FROM lineitem WHERE l_orderkey % 10 = 0),
        |b1 AS (
        |  SELECT l_quantity FROM lineitem WHERE l_orderkey % 10 = 1),
        |ch AS (
        |  SELECT 'insert' AS _change_type, 0 AS _commit_version,
        |    l_quantity FROM b0
        |  UNION ALL SELECT 'insert', 1, l_quantity FROM b1
        |  UNION ALL SELECT 'delete', 2, l_quantity FROM b1)
        |SELECT _change_type, _commit_version, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty
        |FROM ch
        |GROUP BY _change_type, _commit_version
        |ORDER BY _change_type, _commit_version""".stripMargin,
    // changelog stream: snapshot 1's merged read as +I, snapshot 2's
    // input changelog as +U (×2 price, %10∈(3,4)) and -D (%10=0)
    "q468_paimon_changelog_stream" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 < 5),
        |ch AS (
        |  SELECT '+I' AS _row_kind, 1 AS _snapshot_id,
        |    o_totalprice AS p FROM b
        |  UNION ALL
        |  SELECT '+U', 2, o_totalprice * 2
        |  FROM b WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT '-D', 2, o_totalprice FROM b WHERE o_orderkey % 10 = 0)
        |SELECT _row_kind, _snapshot_id, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM ch
        |GROUP BY _row_kind, _snapshot_id
        |ORDER BY _row_kind, _snapshot_id""".stripMargin,
    // one-vocabulary dispatch census: Delta CDF synthesis (versions
    // 0-3 of the q464 table), Iceberg net diff at version 2 (the q463
    // change classes), Paimon changelog at snapshot 2 ('+U' →
    // update_postimage for %10∈(3,4), '-D' → delete for %10=0)
    "q465_graft_lake_changes" ->
      """WITH la AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |lb AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 1),
        |lc AS (
        |  SELECT l_quantity FROM lineitem WHERE l_orderkey % 10 = 2),
        |ob AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 5),
        |ch AS (
        |  SELECT 'delta' AS fmt, 'insert' AS _change_type,
        |    0 AS _commit_version FROM la
        |  UNION ALL SELECT 'delta', 'insert', 0 FROM lb
        |  UNION ALL SELECT 'delta', 'delete', 1 FROM lb
        |  UNION ALL SELECT 'delta', 'delete', 2
        |    FROM la WHERE l_quantity > 25
        |  UNION ALL SELECT 'delta', 'delete', 3
        |    FROM la WHERE l_quantity < 3
        |  UNION ALL SELECT 'iceberg', 'insert', 2
        |    FROM lc WHERE NOT l_quantity < 2
        |  UNION ALL SELECT 'iceberg', 'delete', 2
        |    FROM la WHERE l_quantity > 35 AND NOT l_quantity > 45
        |  UNION ALL SELECT 'iceberg', 'delete', 2
        |    FROM la WHERE NOT l_quantity > 35 AND l_returnflag = 'R'
        |  UNION ALL SELECT 'iceberg', 'delete', 2
        |    FROM lb WHERE l_returnflag = 'R'
        |  UNION ALL SELECT 'paimon', 'update_postimage', 2
        |    FROM ob WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL SELECT 'paimon', 'delete', 2
        |    FROM ob WHERE o_orderkey % 10 = 0)
        |SELECT fmt, _change_type, _commit_version, count(*) AS n
        |FROM ch
        |GROUP BY fmt, _change_type, _commit_version
        |ORDER BY fmt, _change_type, _commit_version""".stripMargin,
    // the SQL table-function surface over the q463 net diff
    "q466_graft_lake_changes_sql" ->
      """WITH a AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |b AS (
        |  SELECT l_quantity, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 1),
        |c AS (
        |  SELECT l_quantity FROM lineitem WHERE l_orderkey % 10 = 2),
        |ch AS (
        |  SELECT 'insert' AS _change_type, l_quantity
        |  FROM c WHERE NOT l_quantity < 2
        |  UNION ALL
        |  SELECT 'delete', l_quantity
        |  FROM a WHERE l_quantity > 35 AND NOT l_quantity > 45
        |  UNION ALL
        |  SELECT 'delete', l_quantity
        |  FROM a WHERE NOT l_quantity > 35 AND l_returnflag = 'R'
        |  UNION ALL
        |  SELECT 'delete', l_quantity
        |  FROM b WHERE l_returnflag = 'R')
        |SELECT _change_type, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty
        |FROM ch
        |GROUP BY _change_type
        |ORDER BY _change_type""".stripMargin,
    // Iceberg net diff of (1, 2]: inserts = new file C minus its own
    // DV (l_quantity<2); deletes = A's DV growth (35<q<=45 — the >45
    // rows were already dead at `from`), plus the eq delete
    // (l_returnflag='R') over the positional SURVIVORS of the seq-1
    // files A (q<=35) and B (all rows) — never the seq-2 file C
    "q463_iceberg_changes" ->
      """WITH a AS (
        |  SELECT l_quantity, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |b AS (
        |  SELECT l_quantity, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 1),
        |c AS (
        |  SELECT l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 = 2),
        |ch AS (
        |  SELECT 'insert' AS _change_type, l_quantity, l_extendedprice
        |  FROM c WHERE NOT l_quantity < 2
        |  UNION ALL
        |  SELECT 'delete', l_quantity, l_extendedprice
        |  FROM a WHERE l_quantity > 35 AND NOT l_quantity > 45
        |  UNION ALL
        |  SELECT 'delete', l_quantity, l_extendedprice
        |  FROM a WHERE NOT l_quantity > 35 AND l_returnflag = 'R'
        |  UNION ALL
        |  SELECT 'delete', l_quantity, l_extendedprice
        |  FROM b WHERE l_returnflag = 'R')
        |SELECT _change_type, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM ch
        |GROUP BY _change_type
        |ORDER BY _change_type""".stripMargin,
    // synthesized CDF: inserts at 0 (A+B), B's file delete at 1, A's
    // first DV (l_quantity>25) at 2, the vector's GROWTH (<3) at 3
    "q464_delta_cdf_synth" ->
      """WITH a AS (
        |  SELECT l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |b AS (
        |  SELECT l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 = 1),
        |ch AS (
        |  SELECT 'insert' AS _change_type, 0 AS _commit_version,
        |    l_quantity, l_extendedprice FROM a
        |  UNION ALL
        |  SELECT 'insert', 0, l_quantity, l_extendedprice FROM b
        |  UNION ALL
        |  SELECT 'delete', 1, l_quantity, l_extendedprice FROM b
        |  UNION ALL
        |  SELECT 'delete', 2, l_quantity, l_extendedprice
        |  FROM a WHERE l_quantity > 25
        |  UNION ALL
        |  SELECT 'delete', 3, l_quantity, l_extendedprice
        |  FROM a WHERE l_quantity < 3)
        |SELECT _change_type, _commit_version, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM ch
        |GROUP BY _change_type, _commit_version
        |ORDER BY _change_type, _commit_version""".stripMargin,
    // ORC Paimon table holds batches %10 ∈ {0,1}
    "q418_paimon_orc" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // ORC-base Hudi table holds batches %10 ∈ {0,1}
    "q419_hudi_orc" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // four latest censuses tagged by detected format: delta/iceberg/
    // paimon = batches {1,2}; hudi (post-clustering) = {1,2,3}
    "q417_lakehouse_autodetect" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_quantity, l_extendedprice,
        |    l_orderkey % 10 AS m
        |  FROM lineitem),
        |cen AS (
        |  SELECT 'delta' AS fmt, l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM li WHERE m IN (1, 2) GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'hudi', l_returnflag, count(*),
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM li WHERE m IN (1, 2, 3) GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'iceberg', l_returnflag, count(*),
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM li WHERE m IN (1, 2) GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'paimon', l_returnflag, count(*),
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM li WHERE m IN (1, 2) GROUP BY l_returnflag)
        |SELECT fmt, l_returnflag, n, sum_qty, sum_price FROM cen
        |ORDER BY fmt, l_returnflag""".stripMargin,
    // column-mapped table holds batches %10 ∈ {0,1} of every flag
    "q414_delta_column_mapping" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // mode=id mapping: ids pick the right columns out of files whose
    // stored names are rotated — values match the plain-name census
    "q429_delta_cmap_id" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // inline DV: same dead set as q424, payload carried in-log
    "q430_delta_inline_dv" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 10 IN (0, 1) AND NOT (l_quantity > 25)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Iceberg equality delete: A loses keys with quantity > 30; the
    // quantity > 45 re-insert (B) survives on strict sequence ordering
    "q406_iceberg_eq_delete" ->
      """WITH a AS (
        |  SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_orderkey % 10 = 0)
        |SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM (
        |  SELECT * FROM a WHERE l_orderkey NOT IN
        |    (SELECT l_orderkey FROM a WHERE l_quantity > 30)
        |  UNION ALL
        |  SELECT * FROM a WHERE l_quantity > 45)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Paimon latest snapshot = base(A∪B) + delta(DELETE A, ADD C) = B∪C
    "q397_paimon_read" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // timestamp 1500ms resolves to Paimon snapshot 1 = A∪B
    "q423_paimon_ts_travel" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Paimon PK merged state: %10∈{1,2} original, {3,4} doubled, 0 dead
    "q407_paimon_pk_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // DV kills %10∈(0,1) rows outright; %10∈(3,4) carry ×2 upserts
    "q458_paimon_dv" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 IN (2, 3, 4)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // full-compaction diff of snap 2 vs 1: ±U pairs for %10∈(3,4),
    // -D for %10=0
    "q462_paimon_fc_changelog" ->
      """WITH ch AS (
        |  SELECT '-U' AS _row_kind, o_orderstatus,
        |    o_totalprice AS p FROM orders WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT '+U', o_orderstatus, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT '-D', o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 = 0)
        |SELECT _row_kind, o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM ch GROUP BY _row_kind, o_orderstatus
        |ORDER BY _row_kind, o_orderstatus""".stripMargin,
    // the 'prewipe' tag pins snapshot 1 = batches A∪B
    "q433_paimon_tag" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // partitioned append-only table covers every flag, so the census
    // is the whole source; flag values come from the BinaryRow decode
    "q426_paimon_partitioned" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // MOR snapshot: base %10<5, log upserts double (3,4), log soft
    // deletes drop 0 — q407's algebra, merged from a real log file
    "q431_hudi_mor_snapshot" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // hard deletes: %10=0 dead via DELETE_BLOCK; %10=3 deleted then
    // re-inserted at ×3; %10=4 upserted at ×2; %10∈(1,2) untouched
    "q434_hudi_mor_hard_delete" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 3
        |   THEN o_totalprice * 3
        |   WHEN o_orderkey % 10 = 4 THEN o_totalprice * 2
        |   ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // partition A patched (×2 upserts, %10=2 deleted), B untouched ×10
    "q435_hudi_mor_partitioned" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 < 3),
        |r AS (
        |  SELECT 'A' AS part, CASE WHEN o_orderkey % 10 = 1
        |    THEN o_totalprice * 2 ELSE o_totalprice END AS p
        |  FROM b WHERE o_orderkey % 10 < 2
        |  UNION ALL
        |  SELECT 'B', o_totalprice * 10 FROM b)
        |SELECT part, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM r GROUP BY part ORDER BY part""".stripMargin,
    // the dispatch serves q455's exact census
    "q457_graft_lake_incremental" ->
      """WITH inc AS (
        |  SELECT o_orderstatus, o_totalprice * 5 AS p FROM orders
        |  WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 10 = 4
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 IN (5, 6))
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM inc GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // MOR incremental (001, 003]: 3 at ×5, 4 at ×2, g2 (5,6) at ×1
    "q455_hudi_mor_incremental" ->
      """WITH inc AS (
        |  SELECT o_orderstatus, o_totalprice * 5 AS p FROM orders
        |  WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 10 = 4
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 IN (5, 6))
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM inc GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // MOR precombine incremental (002, 003]: arrival selects keys
    // 1..4; event time picks ×4 / base ×1 / ×2 / ×2; g2 (5,6) at ×1
    "q459_hudi_mor_pc_incremental" ->
      """WITH inc AS (
        |  SELECT o_orderstatus, o_totalprice * 4 AS p FROM orders
        |  WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 IN (2, 5, 6))
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM inc GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // incremental (001, 002]: A's quantity>30 upserts at ×2 + batch B
    "q450_hudi_incremental" ->
      """WITH inc AS (
        |  SELECT l_returnflag, l_quantity,
        |    l_extendedprice * 2 AS l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 = 0 AND l_quantity > 30
        |  UNION ALL
        |  SELECT l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 = 1)
        |SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM inc GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // parquet log block: q431's algebra — upserts double (3,4),
    // soft deletes drop 0
    "q448_hudi_mor_parquet_block" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // event-time merge: 3,4 → ×2 (seq30 beats the late seq20 ×5);
    // 1 → ×4 (seq25 beats base 10); 2 → ×1 (seq5 loses to base);
    // 0 dead (soft delete at seq50)
    "q444_hudi_mor_precombine" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2
        |   WHEN o_orderkey % 10 = 1 THEN o_totalprice * 4
        |   ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // rollback kills the instant-003 block (×9 on 1,2 + resurrection
    // of 0); instant-002 (×2 on 3,4 + delete of 0) and instant-004
    // (×3 on 1) stand
    "q443_hudi_mor_rollback" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2
        |   WHEN o_orderkey % 10 = 1 THEN o_totalprice * 3
        |   ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // per-partition PK merge, q407's upsert algebra in every partition
    "q427_paimon_partitioned_pk" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 4
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // changelog of the upsert commit: +U doubled updates, -D deletes
    "q421_paimon_changelog" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 < 5),
        |ch AS (
        |  SELECT '+U' AS _row_kind, o_totalprice * 2 AS p
        |  FROM b WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT '-D', o_totalprice FROM b WHERE o_orderkey % 10 = 0)
        |SELECT _row_kind, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM ch GROUP BY _row_kind ORDER BY _row_kind""".stripMargin,
    // Paimon PK snapshot 1 = pre-upsert inserts (%10 < 5, original price)
    "q408_paimon_pk_snapshot" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders WHERE o_orderkey % 10 < 5
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // Paimon snapshot 1 = A∪B (pre-delete)
    "q398_paimon_snapshot" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // streamed census after commits 0,1,2 = batches A∪B∪C
    "q400_delta_stream" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // streamed census after snapshots 1,2,3 = batches A∪B∪C
    "q401_iceberg_stream" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // streamed census after snapshots 1,2,3 = batches A∪B∪C
    "q402_paimon_stream" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // partitioned stream: same batches, flag values via BinaryRow
    "q438_paimon_part_stream" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // partitioned changelog: +U/-D per partition from the upsert commit
    "q437_paimon_part_changelog" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 10 < 5),
        |ch AS (
        |  SELECT o_orderstatus, '+U' AS _row_kind,
        |    o_totalprice * 2 AS p
        |  FROM b WHERE o_orderkey % 10 IN (3, 4)
        |  UNION ALL
        |  SELECT o_orderstatus, '-D', o_totalprice
        |  FROM b WHERE o_orderkey % 10 = 0)
        |SELECT o_orderstatus, _row_kind, count(*) AS n,
        | CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM ch GROUP BY o_orderstatus, _row_kind
        |ORDER BY o_orderstatus, _row_kind""".stripMargin,
    // partial-update: the seq-2 all-NULL +U rows must not overwrite,
    // so the merged table equals the seq-1 batch verbatim
    "q440_paimon_partial_update" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders WHERE o_orderkey % 10 < 5
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // aggregation: sum-fold doubles price for %10∈(3,4); status rides
    // last_non_null so the second batch's NULL never erases it
    "q441_paimon_aggregation" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 < 5
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // first-row: the later ×2 duplicate inserts lose, so the merged
    // table equals the seq-1 batch verbatim
    "q442_paimon_first_row" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders WHERE o_orderkey % 10 < 5
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // agg functions: cnt 0/%10=0, 2/(3,4), 1 else; last NULLed for
    // (3,4); ba false only for 3; tag grows "|Z" (2 chars) for (3,4)
    "q449_paimon_agg_functions" ->
      """WITH k AS (
        |  SELECT o_orderkey % 10 AS m, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 10 < 5)
        |SELECT count(*) AS n,
        | CAST(sum(CASE WHEN m IN (3, 4) THEN 2
        |   WHEN m = 0 THEN 0 ELSE 1 END) AS BIGINT) AS sum_cnt,
        | CAST(sum(CASE WHEN m IN (3, 4) THEN NULL
        |   ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |   AS sum_last,
        | CAST(sum(CASE WHEN m = 3 THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_ba,
        | CAST(sum(length(o_orderstatus) +
        |   CASE WHEN m IN (3, 4) THEN 2 ELSE 0 END) AS BIGINT)
        |   AS tag_len
        |FROM k""".stripMargin,
    // sequence group: (3,4) ×2 from the o_psq=20 update; the
    // o_psq=5 ×9 on (2,3) never applies; status survives the null
    // updates
    "q445_paimon_sequence_group" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |   THEN o_totalprice * 2 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 < 5
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // source commits 0,1,2 streamed through the sink = batches A∪B∪C
    "q403_delta_stream_sink" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Paimon source snapshots 1,2,3 streamed through the sink = A∪B∪C
    "q404_paimon_stream_sink" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Iceberg source snapshots 1,2,3 streamed through the sink = A∪B∪C
    "q405_iceberg_stream_sink" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // streamed census after instants 1,2,3 = batches A∪B∪C
    "q412_hudi_stream" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // source→sink→batch-read loop lands the same A∪B∪C
    "q413_hudi_stream_sink" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // incremental (1, 3] = the batches snapshots 2 and 3 appended
    "q422_iceberg_incremental" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (1, 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // timestamp 1500ms resolves to snapshot 1 = batches A∪B
    "q415_iceberg_ts_travel" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // timestamp 1500ms resolves to commit 0 = batches A∪B
    "q416_delta_ts_travel" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // snapshot-id 1 = batches A∪B (pre-delete)
    "q392_iceberg_snapshot" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the 'v1' tag pins snapshot 1 = batches A∪B (same state q392
    // reaches by explicit id)
    "q432_iceberg_ref" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem WHERE l_orderkey % 10 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // partitioned OPTIMIZE: read unchanged per flag, ONE file per
    // partition after packing, zero CDF rows at the compaction
    "q481_delta_compact_part" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'files', l_returnflag, 1, CAST(NULL AS DOUBLE)
        |  FROM (SELECT DISTINCT l_returnflag FROM src)
        |  UNION ALL
        |  SELECT 'cdf', 'rows', 0, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // partitioned rewrite-data-files: read per flag + the partitions
    // metadata table (1 file per partition, record_count = real rows)
    "q482_iceberg_compact_part" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'parts', '{"l_returnflag":"' || l_returnflag || '"}',
        |    1, CAST(count(*) AS DOUBLE)
        |  FROM src GROUP BY l_returnflag)
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // partitioned Paimon compaction: read per flag + one live file
    // per partition after packing
    "q483_paimon_compact_part" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'files', l_returnflag, 1, CAST(NULL AS DOUBLE)
        |  FROM (SELECT DISTINCT l_returnflag FROM src))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // multi-partition clustering: read per flag + one file group per
    // flag=<f> partition after packing
    "q484_hudi_cluster_part" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'groups', 'flag=' || l_returnflag, 1,
        |    CAST(NULL AS DOUBLE)
        |  FROM (SELECT DISTINCT l_returnflag FROM src))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // checkpointed vacuum: the checkpoint tombstone (f0 = %10=0) and
    // the JSON remove (f1 = %10=1) reclaim — 2 deletes; live = %10=2
    "q485_delta_vacuum_ckpt" ->
      """WITH live AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 = 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM live GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'vacuum', 'deleted', 2, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // lookup changelog: the append snapshot is EMPTY; the compact
    // snapshot carries -U (old) / +U (doubled) for %10∈(3,4)
    "q486_paimon_lookup_changelog" ->
      """WITH up AS (
        |  SELECT o_totalprice FROM orders
        |  WHERE o_orderkey % 10 IN (3, 4)),
        |rows_ AS (
        |  SELECT '-U' AS _row_kind, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM up
        |  UNION ALL
        |  SELECT '+U', count(*),
        |    CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(18,2)))
        |      AS DOUBLE)
        |  FROM up)
        |SELECT _row_kind, n, sum_price FROM rows_
        |ORDER BY _row_kind""".stripMargin,
    // post-compaction metadata: ONE data manifest adding one file per
    // partition; its entries' record_count sums to the live rows
    "q487_iceberg_manifests_meta" ->
      """WITH src AS (
        |  SELECT l_returnflag FROM lineitem WHERE l_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'manifests' AS surface, '0' AS k, 1 AS n,
        |    CAST((SELECT count(DISTINCT l_returnflag) FROM src)
        |      AS DOUBLE) AS v
        |  UNION ALL
        |  SELECT 'entries', '1',
        |    (SELECT count(DISTINCT l_returnflag) FROM src),
        |    CAST((SELECT count(*) FROM src) AS DOUBLE))
        |SELECT surface, k, n, v FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // post-maintenance reads: delta = A(q<=25)∪B live rows with 3
    // files vacuumed (a, b, the DV); iceberg = the q472 live set with
    // its ONE pre-compaction snapshot expired; hudi = the clustered
    // %10<2 rows with 3 superseded bases cleaned; paimon = %10<2
    // orders with snapshots 1-2 expired
    "q489_graft_lake_maintenance" ->
      """WITH rows_ AS (
        |  SELECT 'delta' AS fmt, 'read' AS k,
        |    (SELECT count(*) FROM lineitem
        |     WHERE (l_orderkey % 10 = 0 AND NOT l_quantity > 25)
        |        OR l_orderkey % 10 = 1) AS n
        |  UNION ALL SELECT 'delta', 'maint', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'iceberg', 'read',
        |    (SELECT count(*) FROM lineitem
        |     WHERE ((l_orderkey % 10 = 0 AND NOT l_quantity > 35)
        |         OR l_orderkey % 10 = 1) AND l_returnflag <> 'R')
        |  UNION ALL SELECT 'iceberg', 'maint', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'hudi', 'read',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey % 10 < 2)
        |  UNION ALL SELECT 'hudi', 'maint', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'paimon', 'read',
        |    (SELECT count(*) FROM orders WHERE o_orderkey % 10 < 2)
        |  UNION ALL SELECT 'paimon', 'maint', CAST(2 AS BIGINT))
        |SELECT fmt, k, n FROM rows_
        |ORDER BY fmt, k""".stripMargin,
    // row-level delete: the read loses exactly the q>25 rows, the
    // CDF reports exactly them, both files stay live (DV-carrying)
    "q490_delta_delete" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src WHERE NOT l_quantity > 25 GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'cdf', l_returnflag, count(*),
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM src WHERE l_quantity > 25 GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'files', 'live', 2, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // upsert: %10=1 doubled (update images in the WRITTEN CDC),
    // %10=2 inserted as a new group, %10=0 carried untouched
    "q491_hudi_upsert" ->
      """WITH upd AS (
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 10 = 1),
        |ins AS (
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 10 = 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 1
        |      THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 10 < 3 GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'cdc', 'insert', count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM ins
        |  UNION ALL
        |  SELECT 'cdc', 'update_preimage', count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM upd
        |  UNION ALL
        |  SELECT 'cdc', 'update_postimage', count(*),
        |    CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(18,2)))
        |      AS DOUBLE)
        |  FROM upd)
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // PK full compaction: the merged state (%10∈(1..4) live, (3,4)
    // doubled, 0 deleted) lands in ONE bucket-0 file
    "q492_paimon_pk_compact" ->
      """WITH rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(CASE WHEN o_orderkey % 10 IN (3, 4)
        |      THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 10 IN (1, 2, 3, 4)
        |  GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'files', 'live', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // benched compaction: read unchanged over %10<5, one file per
    // partition after packing
    "q493_delta_compact_bench" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 5),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'files', l_returnflag, 1, CAST(NULL AS DOUBLE)
        |  FROM (SELECT DISTINCT l_returnflag FROM src))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // equality-delete write: PK-style — EVERY line of an orderkey
    // holding any q>40 line dies; one delete file in the snapshot
    "q494_iceberg_eq_delete_write" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |live AS (
        |  SELECT * FROM src WHERE l_orderkey NOT IN (
        |    SELECT DISTINCT l_orderkey FROM src WHERE l_quantity > 40)),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM live GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'deletes', 'files', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // row-level update: q>25 rows gain +100; the written cdc images
    // both sides exactly
    "q495_delta_update" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |upd AS (SELECT l_quantity FROM src WHERE l_quantity > 25),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(CASE WHEN l_quantity > 25
        |      THEN l_quantity + 100 ELSE l_quantity END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'cdf', 'update_preimage', count(*),
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM upd
        |  UNION ALL
        |  SELECT 'cdf', 'update_postimage', count(*),
        |    CAST(sum(CAST(l_quantity + 100 AS DECIMAL(18,2)))
        |      AS DOUBLE)
        |  FROM upd)
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // predicate updates on the two newly-served arms: %10=2 tripled
    // on the Iceberg table, %10=3 doubled on the Paimon table
    "q505_lake_update_matrix" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 < 5),
        |rows_ AS (
        |  SELECT 'iceberg' AS fmt, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 2
        |      THEN o_totalprice * 3 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM src GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'paimon', o_orderstatus, count(*),
        |    CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 3
        |      THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM src GROUP BY o_orderstatus)
        |SELECT fmt, k, n, sum_price FROM rows_
        |ORDER BY fmt, k""".stripMargin,
    // positional delete write: price>200000 rows die, the pre-delete
    // snapshot travels, one delete file
    "q504_iceberg_pos_delete_write" ->
      """WITH src AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 < 5),
        |rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM src WHERE NOT o_totalprice > 200000
        |  GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'travel', o_orderstatus, count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM src GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'deletes', 'files', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // benched transform compaction: census unchanged over %10<5, one
    // file per bucket ordinal after the rewrite
    "q503_iceberg_compact_bench" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 5),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'files', 'live', 4, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // mapped update: q>25 rows gain +100 through the id-resolving
    // read; the written cdc images both sides exactly
    "q502_delta_mapped_update" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 IN (0, 1)),
        |upd AS (SELECT l_quantity FROM src WHERE l_quantity > 25),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(CASE WHEN l_quantity > 25
        |      THEN l_quantity + 100 ELSE l_quantity END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'cdf', 'update_preimage', count(*),
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM upd
        |  UNION ALL
        |  SELECT 'cdf', 'update_postimage', count(*),
        |    CAST(sum(CAST(l_quantity + 100 AS DECIMAL(18,2)))
        |      AS DOUBLE)
        |  FROM upd)
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // SQL delete (q>40) then keyed upsert: %10=0 lines with q<=40
    // survive; every %10=1 orderkey collapses to one 777/U row
    "q501_graft_lake_dml" ->
      """WITH src AS (
        |  SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |kept AS (
        |  SELECT l_returnflag, l_quantity FROM src
        |  WHERE l_quantity <= 40 AND l_orderkey % 10 = 0),
        |ups AS (
        |  SELECT DISTINCT l_orderkey FROM lineitem
        |  WHERE l_orderkey % 10 = 1),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM kept GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'read', 'U', count(*),
        |    CAST(sum(CAST(777.0 AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM ups
        |  UNION ALL
        |  SELECT 'versions', 'latest', 2, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // one-snapshot keyed update: %10=1 doubled, %10=5 inserted, the
    // pre-update snapshot travels, exactly 2 snapshots exist
    "q500_iceberg_keyed_update" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE o_orderkey % 10 <= 5),
        |rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM final GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'travel', o_orderstatus, count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 10 < 5
        |  GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'snapshots', 'count', 2, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // partitioned DML: update moves %10==3 to status 'X' (price
    // kept), the keyed upsert doubles %10==1 prices and inserts
    // %10==5 keys; travel is the %10<5 base; 3 snapshots
    // (initial/update/upsert); every DML-staged file is
    // partition-pure (consistent=1)
    "q506_iceberg_part_dml" ->
      """WITH final AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'X'
        |         ELSE o_orderstatus END AS k,
        |    CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE o_orderkey % 10 <= 5),
        |rows_ AS (
        |  SELECT 'read' AS surface, k, count(*) AS n,
        |    CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM final GROUP BY k
        |  UNION ALL
        |  SELECT 'travel', o_orderstatus, count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 10 < 5
        |  GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'snapshots', 'count', 3, CAST(NULL AS DOUBLE)
        |  UNION ALL
        |  SELECT 'partition', 'consistent', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // transform compaction: census unchanged over %10<2, one file per
    // bucket ordinal (all 4 occupied at every sf), every row hashing
    // to its file's bucket
    "q498_iceberg_transform_compact" ->
      """WITH src AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM src GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'files', 'live', 4, CAST(NULL AS DOUBLE)
        |  UNION ALL
        |  SELECT 'transform', 'consistent', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // mapped compaction: census unchanged over %10<2, one file per
    // returnflag partition, physical names/ids re-stamped
    "q499_delta_mapped_compact" ->
      """WITH src AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'read' AS surface, l_returnflag AS k, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM src GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'files', l_returnflag, 1, CAST(NULL AS DOUBLE)
        |  FROM (SELECT DISTINCT l_returnflag FROM src)
        |  UNION ALL
        |  SELECT 'mapped', 'physical_ok', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_qty FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // PK writes: %10=1 doubled, %10∈(5,6) inserted, %10=0 deleted;
    // snapshot 1 still travels to the original base; one file after
    // the PK compaction
    "q497_paimon_pk_write" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE o_orderkey % 10 IN (1, 2, 3, 4, 5, 6)),
        |rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM final GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'travel', o_orderstatus, count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 10 < 5
        |  GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'files', 'live', 1, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // MOR log-block writes: %10=1 doubled, %10=5 inserted, %10=0
    // deleted, %10=2 tripled; incremental (001, ...] serves exactly
    // the written keys (commit stamps survive the compaction); one
    // slice, zero logs after the fold
    "q496_hudi_mor_write" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
        |         WHEN o_orderkey % 10 = 2 THEN o_totalprice * 3
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE o_orderkey % 10 IN (1, 2, 3, 4, 5)),
        |rows_ AS (
        |  SELECT 'read' AS surface, o_orderstatus AS k, count(*) AS n,
        |    CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM final GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'inc', o_orderstatus, count(*),
        |    CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM final WHERE o_orderkey % 10 IN (1, 2, 5)
        |  GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'files', 'slices', 1, CAST(NULL AS DOUBLE)
        |  UNION ALL
        |  SELECT 'files', 'logs', 0, CAST(NULL AS DOUBLE))
        |SELECT surface, k, n, sum_price FROM rows_
        |ORDER BY surface, k""".stripMargin,
    // the WRITTEN CDC records an update for EVERY %10<2 key — the
    // unchanged %10=0 half included, which a file diff cannot see
    "q488_hudi_cdc_exact" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 < 2),
        |rows_ AS (
        |  SELECT 'update_postimage' AS _change_type,
        |    '002' AS _commit_time, count(*) AS n,
        |    CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 1
        |      THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM src
        |  UNION ALL
        |  SELECT 'update_preimage', '002', count(*),
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM src)
        |SELECT _change_type, _commit_time, n, sum_price FROM rows_
        |ORDER BY _change_type, _commit_time""".stripMargin
  )
}
