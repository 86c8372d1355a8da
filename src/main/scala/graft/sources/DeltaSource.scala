package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.roaringbitmap.longlong.Roaring64NavigableMap

import java.net.{URI, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.UUID

/** The put-if-absent primitive behind Delta's optimistic concurrency:
  * commit N is whoever creates `N.json` first; the loser re-reads and
  * retries at N+1. The default implementation uses the Hadoop
  * create-exclusive flag, which is atomic on local disk and HDFS but
  * **NOT on S3-compatible object stores** (S3 PUT has no if-absent;
  * two racing writers on s3a/MinIO can both "win" and corrupt the
  * log — the same reason Delta Lake requires an external LogStore for
  * S3). Production multi-writer use on an object store plugs in
  * [[CoordinatedCommitStore]] — arbitration through a separate
  * CAS-capable coordination root, the S3DynamoDBLogStore
  * architecture, with write-ahead entries and crash recovery —
  * or any other coordination-backed implementation of this trait.
  * Single-writer pipelines — the reference's Airflow DAG shape — are
  * safe with the default everywhere. See also
  * `ObjectStore.configureS3a`.
  */
trait CommitStore extends Serializable {
  /** Create `path` with `content` iff it does not exist; MUST throw
    * (leaving the log untouched) when it already does. */
  def putIfAbsent(fs: FileSystem, path: Path, content: String): Unit
}

/** Create-exclusive commit: atomic on local/HDFS, not on s3a (see
  * [[CommitStore]]). */
object CreateExclusiveCommitStore extends CommitStore {
  def putIfAbsent(fs: FileSystem, path: Path, content: String): Unit = {
    val out = fs.create(path, /* overwrite = */ false)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}

/** Delta Lake table interop — the reference's actual storage format
  * (delta-rs writes every zone as a Delta table;
  * /root/reference/src/helpers/delta_queries.py:9-13 reads them back
  * with `DeltaTable(path).to_pandas()`). This module reads and writes
  * the open `_delta_log` protocol directly, so graft can point at an
  * existing lakehouse (or land zones a delta-rs/pandas consumer can
  * read) without any extra library:
  *
  *  - `readDelta` reconstructs a snapshot from the newest checkpoint
  *    parquet at-or-below the requested version plus the JSON commits
  *    after it — the standard log-replay contract: per file path, the
  *    latest add/remove action wins; surviving adds form the scan.
  *    The scan itself is ONE relation over a [[DeltaFileIndex]] built
  *    from the add-file list — partitioned or not, any partition
  *    count, zero filesystem listing.
  *  - `writeDelta` commits parquet data files (optionally hive-
  *    partitioned) plus a JSON log entry (protocol + metaData on
  *    first commit; add/remove actions after) through a pluggable
  *    [[CommitStore]] put-if-absent.
  *  - `checkpoint` folds the current snapshot into a
  *    `NNN.checkpoint.parquet` + `_last_checkpoint`, so replay cost
  *    stays O(commits since checkpoint), not O(table history).
  *  - `changesSince`/`followChanges` replay the log incrementally —
  *    the change-data-feed read over a real `_delta_log` table,
  *    resumable from a stored version cursor.
  *
  * Everything goes through the Hadoop FileSystem API — local disk,
  * s3a, or any other configured scheme behave identically (commit
  * atomicity caveats per [[CommitStore]]).
  *
  * == Protocol feature matrix (interop gate) ==
  * Reads support minReaderVersion ≤ 3 with reader features
  * `deletionVectors, columnMapping, typeWidening, v2Checkpoint`;
  * writes support minWriterVersion ≤ 7 with writer features
  * `appendOnly, invariants, checkConstraints, changeDataFeed,
  * generatedColumns, columnMapping, identityColumns, deletionVectors,
  * typeWidening, v2Checkpoint, rowTracking, domainMetadata,
  * inCommitTimestamp, clustering`. A FOREIGN table demanding anything
  * beyond these is REFUSED, loudly: unknown reader features at
  * snapshot load (misreading e.g. an unknown encoding would return
  * wrong rows), unknown writer features at every mutating entry point
  * (an ignorant commit would break the invariant the feature
  * protects — writes refuse while reads of the same table stay
  * legal, per the spec's read/write gate separation).
  *
  * Scale notes: log JSON files are KB-sized regardless of data size;
  * the active-file reconstruction is a driver-side fold over log
  * actions, exactly like every Delta reader (the log carries file
  * metadata, not data). File paths, sizes and partition values flow
  * from the log into the FileIndex, so planning performs no listing
  * RPCs and partition predicates prune files before any scan;
  * version filters never read data files at all.
  */
object DeltaSource {

  /** Footer-probe memo for the CDF legacy-layout gate (immutable
    * files → immutable answer); see fileHasLogicalNames. */
  private val legacyLayoutProbes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Which reconcile branch the LAST snapshot call took (true =
    * distributed, false = driver fold) — a test/diagnostic probe:
    * both branches return bit-identical snapshots, so value equality
    * alone cannot prove the auto router picked the intended one. */
  @volatile private[graft] var lastReplayDistributed: Option[Boolean] = None

  /** The add action's deletionVector descriptor (the Delta spec's
    * DeletionVectorDescriptor): `storageType` "u" (UUID-named sidecar
    * under the table root, `pathOrInlineDv` = optional prefix +
    * 20-char Base85 UUID), "p" (path verbatim — absolute URI or
    * table-relative), or "i" (bitmap data inlined as Base85).
    * `offset` locates the vector inside its sidecar, `sizeInBytes`
    * is the bitmap data's length, `cardinality` the number of rows
    * THIS file has marked deleted. Bitmap bytes are the portable
    * RoaringBitmapArray form — see [[DeletionVectors]]. */
  private[sources] case class DvDesc(storageType: String, pathOrInlineDv: String,
                                     offset: Option[Int], sizeInBytes: Int,
                                     cardinality: Long)

  private[sources] case class AddFile(
      path: String,
      partitionValues: Map[String, String],
      size: Option[Long],
      modificationTime: Option[Long],
      stats: Option[String] = None,
      dv: Option[DvDesc] = None,
      // row tracking (Delta's rowTracking writer feature): the first
      // fresh row id this file covers, and the commit version stamped
      // on its rows when no materialized value overrides them
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  private[sources] case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[AddFile],
      txns: Map[String, Long],
      configuration: Map[String, String] = Map.empty,
      protocol: Protocol = DefaultProtocol,
      // live domainMetadata actions, newest per domain (removed ones
      // dropped) — carries e.g. the rowTracking high watermark
      domains: Map[String, String] = Map.empty) {
    /** The surviving add actions as a lazy DataFrame of `add` structs
      * — set ONLY when the DISTRIBUTED reconcile produced one. The
      * metadata-scale WRITE path (checkpointV2 sidecars) reads this
      * instead of round-tripping `files` through a driver Seq, so a
      * 10M-file checkpoint write never holds the file list on the
      * driver. @transient var, not a constructor field: it is an
      * execution handle, not snapshot state — case-class equality
      * and the spec's field-wise compares stay value-based. */
    @transient var filesDf: Option[DataFrame] = None
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val CommitRe = """(\d{20})\.json""".r
  private val Uuid = """[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"""
  private val CheckpointRe =
    (s"""(\\d{20})\\.checkpoint(?:\\.\\d+\\.\\d+|\\.$Uuid)?\\.parquet""").r

  /** (commit versions, checkpoint versions) present in the log. */
  private val CheckpointSingleRe = """(\d{20})\.checkpoint\.parquet""".r
  private val CheckpointPartRe = """(\d{20})\.checkpoint\.(\d+)\.(\d+)\.parquet""".r
  private val CheckpointV2Re = (s"""(\\d{20})\\.checkpoint\\.($Uuid)\\.parquet""").r

  private def logVersions(fs: FileSystem, logDir: Path): (Seq[Long], Seq[Long]) = {
    if (!fs.exists(logDir)) return (Seq.empty, Seq.empty)
    val names = fs.listStatus(logDir).toSeq.filter(_.isFile).map(_.getPath.getName)
    val commits = names.collect { case CommitRe(v) => v.toLong }.distinct.sorted
    // A checkpoint version only counts with a COMPLETE file set: the
    // single-file form, or every part 1..n of the multi-part form
    // (consistent totals). A torn set — a failed/partial cleanup, a
    // crash mid-write — must not be offered as a replay seed: seeding
    // from surviving parts would silently drop the missing parts'
    // files from the reconstructed state.
    val single = names.collect { case CheckpointSingleRe(v) => v.toLong }
    // a v2 manifest is self-complete once visible: its sidecars were
    // landed BEFORE it (write order), and a later torn cleanup
    // surfaces as a loud missing-sidecar error at read, never a
    // smaller table
    val v2 = names.collect { case CheckpointV2Re(v, _) => v.toLong }
    val complete = names.collect { case CheckpointPartRe(v, i, n) =>
      (v.toLong, i.toInt, n.toInt)
    }.groupBy(_._1).collect {
      case (v, g) if g.map(_._3).distinct.sizeIs == 1 &&
        g.map(_._2).toSet == (1 to g.head._3).toSet => v
    }
    val checkpoints = (single ++ v2 ++ complete).distinct.sorted
    (commits, checkpoints)
  }

  def latestVersion(spark: SparkSession, tablePath: String): Option[Long] = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    val (commits, checkpoints) = logVersions(fs, logDir)
    // a compacted range attests its upper version even when the
    // member JSONs were removed
    val compactTops = listCompactions(fs, logDir).map(_._2)
    (commits ++ checkpoints ++ compactTops).sorted.lastOption
  }

  /** Minimal action schema — the fields snapshot reconstruction
    * needs. Unknown fields in the log are ignored (forward-compat,
    * same as any reader honoring protocol minReaderVersion 1). */
  private val ActionSchema: StructType = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType)))),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  /** Checkpoints carry the same action complement (the protocol
    * action is required in every checkpoint per the spec). */
  private val CheckpointSchema: StructType = ActionSchema

  /** The protocol state of a table: version gates plus (3,7)-style
    * table-feature lists. */
  private[sources] case class Protocol(minReader: Int, minWriter: Int,
                                       readerFeatures: Set[String],
                                       writerFeatures: Set[String])

  private val DefaultProtocol = Protocol(1, 2, Set.empty, Set.empty)

  /** Reader features this implementation actually understands — a
    * table REQUIRING anything else must be refused, not misread
    * (e.g. a reader ignoring deletionVectors would resurrect every
    * deleted row). */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "typeWidening", "v2Checkpoint")
  private val MaxReaderVersion = 3

  /** Writer features this implementation actually ENFORCES when it
    * commits — the write-side half of the interop gate. A foreign
    * table whose protocol demands anything else (say,
    * `icebergCompatV2`) must refuse our WRITES — an ignorant commit
    * would break the invariant that feature exists to protect — while
    * READS of the same table stay legal (reader gating is separate,
    * per the Delta spec). Enforced at every mutating entry point via
    * [[requireWritable]]. */
  private val SupportedWriterFeatures = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "generatedColumns", "columnMapping", "identityColumns",
    "deletionVectors", "typeWidening", "v2Checkpoint", "rowTracking",
    "domainMetadata", "inCommitTimestamp", "clustering")
  private val MaxWriterVersion = 7

  /** The write-path protocol gate: refuse to commit to a table whose
    * protocol requires writer capabilities this engine does not
    * implement. Spec-compliant writers must check minWriterVersion
    * and, at (x,7), every listed writerFeature — silently committing
    * anyway is how an appendOnly/CDC/compat invariant gets broken by
    * a well-meaning engine. */
  private def requireWritable(p: Protocol, tablePath: String): Unit = {
    require(p.minWriter <= MaxWriterVersion,
      s"$tablePath requires minWriterVersion ${p.minWriter}; " +
        s"this writer supports up to $MaxWriterVersion")
    if (p.minWriter >= 7) {
      val unsupported = p.writerFeatures -- SupportedWriterFeatures
      require(unsupported.isEmpty,
        s"$tablePath requires writer features $unsupported; " +
          s"supported: $SupportedWriterFeatures")
    }
  }

  private def protocolLine(p: Protocol): String = {
    val rf = if (p.minReader >= 3)
      s""","readerFeatures":${p.readerFeatures.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")}"""
    else ""
    val wf = if (p.minWriter >= 7)
      s""","writerFeatures":${p.writerFeatures.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")}"""
    else ""
    s"""{"protocol":{"minReaderVersion":${p.minReader},"minWriterVersion":${p.minWriter}$rf$wf}}"""
  }

  private def rowToAdd(a: org.apache.spark.sql.Row): AddFile = {
    val pv = Option(a.getAs[scala.collection.Map[String, String]]("partitionValues"))
      .map(_.toMap).getOrElse(Map.empty[String, String])
    val dv = {
      val i = a.fieldIndex("deletionVector")
      if (a.isNullAt(i)) None
      else {
        val d = a.getStruct(i)
        val p = d.getAs[String]("pathOrInlineDv")
        val st = d.getAs[String]("storageType")
        if (p == null || st == null) None
        else Some(DvDesc(st, p,
          if (d.isNullAt(d.fieldIndex("offset"))) None
          else Some(d.getAs[Int]("offset")),
          if (d.isNullAt(d.fieldIndex("sizeInBytes"))) 0
          else d.getAs[Int]("sizeInBytes"),
          if (d.isNullAt(d.fieldIndex("cardinality"))) 0L
          else d.getAs[Long]("cardinality")))
      }
    }
    def longOpt(field: String): Option[Long] = {
      val i = a.fieldIndex(field)
      if (a.isNullAt(i)) None else Some(a.getLong(i))
    }
    AddFile(a.getAs[String]("path"), pv,
      longOpt("size"),
      longOpt("modificationTime"),
      Option(a.getAs[String]("stats")), dv,
      longOpt("baseRowId"), longOpt("defaultRowCommitVersion"))
  }

  /** Replay the log up to `version` (latest when None): newest
    * checkpoint ≤ version seeds the state, JSON commits after it
    * apply on top; per path the action with the highest version
    * wins, and only adds survive. */
  private[sources] def snapshot(spark: SparkSession, tablePath: String,
                       version: Option[Long],
                       partitionPrune: Option[Column] = None): Snapshot = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    val (commits, checkpoints) = logVersions(fs, logDir)
    val allCompactions = listCompactions(fs, logDir)
    val maxAvail = (commits ++ checkpoints ++ allCompactions.map(_._2))
      .sorted.lastOption.getOrElse(
        throw new IllegalArgumentException(s"not a Delta table (no _delta_log): $tablePath"))
    val target = version.getOrElse(maxAvail)
    require(target <= maxAvail, s"version $target not in log (latest: $maxAvail)")
    val cp = checkpoints.filter(_ <= target).sorted.lastOption
    val coverFrom = cp.map(_ + 1).getOrElse(0L)
    // Minor log compactions (<x>.<y>.compacted.json): a compacted
    // range fully inside (cp, target] substitutes for its member
    // commits — greedy longest-first cover, so replay reads
    // O(ranges + stragglers) files instead of O(commits). At 100 TB
    // a table accumulates millions of commits between checkpoints'
    // worth of listing; compactions keep the replay half bounded.
    val compactions: Seq[(Long, Long)] = allCompactions
      .filter { case (x, y) => x >= coverFrom && y <= target }
      .sortBy { case (x, y) => (x, -y) }
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var cursor = coverFrom
    compactions.foreach { case (x, y) =>
      if (x >= cursor) { chosen += ((x, y)); cursor = y + 1 }
    }
    val inChosen: Long => Boolean =
      v => chosen.exists { case (x, y) => v >= x && v <= y }
    val replayCommits = commits.filter(v =>
      v <= target && cp.forall(v > _) && !inChosen(v))
    // Contiguity (Delta's validateDeltaVersions rule): the commits
    // replayed on top of the seed checkpoint must cover (cp, target]
    // without gaps — after log cleanup, a surviving OLDER checkpoint
    // plus missing commits would otherwise silently reconstruct the
    // older state and label it `target`. Error instead.
    val have = replayCommits.toSet
    val missing = (coverFrom to target).filterNot(v => have(v) || inChosen(v))
    require(missing.isEmpty,
      s"cannot reconstruct version $target of $tablePath: commit(s) " +
        s"${missing.take(5).mkString(", ")}${if (missing.size > 5) ", …" else ""} " +
        s"are missing from the log (expired by cleanupExpiredLogs?); " +
        s"nearest seed checkpoint: ${cp.map(_.toString).getOrElse("none")}")

    // ── replay mode: driver fold vs distributed reconcile ────────
    // The driver fold below is the classic Delta reader shape (log
    // metadata is small relative to data)… until it isn't: at 100 TB
    // a table holds ~10M add actions, and a driver-side collect+fold
    // is multi-GB of heap and a single-threaded replay per cold
    // snapshot. Above a byte threshold (or when forced), the
    // add/remove reconciliation runs as ONE Spark job — newest
    // action per path via max_by over the stamped action union —
    // and the driver folds only the O(commits) non-file actions
    // (protocol/metaData/txn/domainMetadata). Semantics are
    // bit-identical: same precedence (higher version wins; versions
    // never tie across sources for one path in a legal log — paths
    // are unique within a commit, checkpoints sit strictly below
    // replayed commits, and chosen compaction ranges exclude their
    // member commits), same protocol gate, same Snapshot fields.
    val logStatuses = fs.listStatus(logDir).toSeq.filter(_.isFile)
    val cpPaths: Seq[Path] = cp.map { v =>
      logStatuses.map(_.getPath)
        .filter(p => CheckpointRe.findFirstMatchIn(p.getName).exists(_.group(1).toLong == v))
    }.getOrElse(Seq.empty)
    val cpSinglePaths = cpPaths.filter(p => CheckpointSingleRe.findFirstMatchIn(p.getName).nonEmpty)
    val cpV2Paths = cpPaths.filter(p => CheckpointV2Re.findFirstMatchIn(p.getName).nonEmpty)
    // the form precedence the driver path uses: single-file, then a
    // v2 manifest, then parts — never co-read strays of another form
    val cpMainPaths: Seq[String] =
      (if (cpSinglePaths.nonEmpty) cpSinglePaths
       else if (cpV2Paths.nonEmpty) cpV2Paths
       else cpPaths).map(_.toString)
    // v2 sidecar resolution: a model-sized pointer select off the
    // manifest — never its file actions
    lazy val v2SidecarPaths: Seq[String] = {
      val sidecarDir = new Path(logDir, "_sidecars")
      val names = spark.read
        .schema(StructType(Seq(StructField("sidecar", StructType(Seq(
          StructField("path", StringType)))))))
        .parquet(cpV2Paths.map(_.toString): _*)
        .where(col("sidecar").isNotNull)
        .select(col("sidecar.path")).collect().map(_.getString(0)).toSeq
      names.map { n =>
        val p = new Path(sidecarDir, n)
        require(fs.exists(p),
          s"v2 checkpoint at version ${cp.get} of $tablePath references a missing " +
            s"sidecar $n — the checkpoint is torn (partial cleanup?); " +
            "replay from JSON commits or an older checkpoint instead")
        p.toString
      }
    }
    val jsonPaths = replayCommits.map(v => new Path(logDir, f"$v%020d.json").toString)
    val compactedPaths = chosen.toSeq.map { case (x, y) =>
      new Path(logDir, f"$x%020d.$y%020d.compacted.json").toString }
    val replayMode = spark.conf.get("spark.graft.delta.replay.mode", "auto")
    val distributed = replayMode match {
      case "distributed" => true
      case "driver" => false
      case _ =>
        // bytes of the log slice to replay — a cheap deterministic
        // proxy for the action count, from the listing already in hand.
        // Compare by file NAME: the listing returns scheme-QUALIFIED
        // paths (file:/…) while jsonPaths/compactedPaths are
        // constructed unqualified, so a full-path compare would never
        // match a commit and the router would silently undercount a
        // checkpoint-less log (names are unique within one _delta_log)
        val driverMaxBytes = spark.conf
          .get("spark.graft.delta.replay.driverMaxBytes", (64L * 1024 * 1024).toString).toLong
        val wanted = (cpMainPaths ++ jsonPaths ++ compactedPaths)
          .map(p => new Path(p).getName).toSet
        val mainBytes = logStatuses.filter(st => wanted(st.getPath.getName)).map(_.getLen).sum
        val sideBytes = if (cpV2Paths.nonEmpty && cpSinglePaths.isEmpty)
          v2SidecarPaths.map(p => fs.getFileStatus(new Path(p)).getLen).sum else 0L
        mainBytes + sideBytes > driverMaxBytes
    }
    lastReplayDistributed = Some(distributed) // test/diagnostic probe

    // Checkpoint rows carry the same action structs as JSON commits.
    val cpActions: Seq[(Long, org.apache.spark.sql.Row)] = cp match {
      case _ if distributed => Seq.empty
      case None => Seq.empty
      case Some(v) =>
        val all = cpPaths
        // preference: single-file, then a v2 manifest, then parts —
        // strays of an abandoned other-form attempt at the same
        // version must not be co-read
        val singles = all.filter(p => CheckpointSingleRe.findFirstMatchIn(p.getName).nonEmpty)
        val v2s = all.filter(p => CheckpointV2Re.findFirstMatchIn(p.getName).nonEmpty)
        if (singles.nonEmpty)
          spark.read.schema(ActionSchema).parquet(singles.map(_.toString): _*)
            .collect().toSeq.map(r => (v, r))
        else if (v2s.nonEmpty) {
          // v2: the manifest holds protocol/metaData/txn/domainMetadata
          // plus `sidecar` pointers; add/remove actions live in the
          // sidecar files under _delta_log/_sidecars/
          val manifestSchema = StructType(ActionSchema :+
            StructField("sidecar", StructType(Seq(
              StructField("path", StringType),
              StructField("sizeInBytes", LongType),
              StructField("modificationTime", LongType)))))
          val mRows = spark.read.schema(manifestSchema)
            .parquet(v2s.map(_.toString): _*).collect().toSeq
          val sideNames = mRows.flatMap { r =>
            val i = r.fieldIndex("sidecar")
            if (r.isNullAt(i)) None else Option(r.getStruct(i).getAs[String]("path"))
          }
          val sidecarDir = new Path(logDir, "_sidecars")
          val sidePaths = sideNames.map { n =>
            val p = new Path(sidecarDir, n)
            require(fs.exists(p),
              s"v2 checkpoint at version $v of $tablePath references a missing " +
                s"sidecar $n — the checkpoint is torn (partial cleanup?); " +
                "replay from JSON commits or an older checkpoint instead")
            p.toString
          }
          val sideRows =
            if (sidePaths.isEmpty) Seq.empty
            else spark.read.schema(ActionSchema).parquet(sidePaths: _*).collect().toSeq
          // drop the sidecar column so manifest rows match ActionSchema
          // field indexes downstream (schema-carrying rows: the replay
          // loop resolves fields by NAME)
          val mAsActions: Seq[org.apache.spark.sql.Row] = mRows.map { r =>
            new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              r.toSeq.dropRight(1).toArray, ActionSchema)
          }
          (mAsActions ++ sideRows).map(r => (v, r))
        } else
          spark.read.schema(ActionSchema).parquet(all.map(_.toString): _*)
            .collect().toSeq.map(r => (v, r))
    }
    val jsonActions: Seq[(Long, org.apache.spark.sql.Row)] =
      if (distributed) Seq.empty
      else replayCommits.flatMap { v =>
        val f = new Path(logDir, f"$v%020d.json")
        spark.read.schema(ActionSchema).json(f.toString).collect().toSeq.map(r => (v, r))
      } ++ chosen.toSeq.flatMap { case (x, y) =>
        // a compacted range's actions are already reconciled (one per
        // path); stamping them all at y keeps cross-source precedence
        // right: later plain commits beat them, earlier ones lose
        val f = new Path(logDir, f"$x%020d.$y%020d.compacted.json")
        spark.read.schema(ActionSchema).json(f.toString).collect().toSeq.map(r => (y, r))
      }

    // Distributed replay: every log slice becomes one version-stamped
    // action DataFrame; commit/compaction versions come off the file
    // name via `_metadata.file_path`, so a single multi-file read
    // covers any number of commits.
    val stampedActions: Option[DataFrame] = if (!distributed) None else {
      val actionCols =
        col("v") +: ActionSchema.fields.toSeq.map(f => col(f.name))
      val frames = Seq.newBuilder[DataFrame]
      if (cpMainPaths.nonEmpty)
        frames += spark.read.schema(ActionSchema).parquet(cpMainPaths: _*)
          .withColumn("v", lit(cp.get))
      if (cpV2Paths.nonEmpty && cpSinglePaths.isEmpty && v2SidecarPaths.nonEmpty)
        frames += spark.read.schema(ActionSchema).parquet(v2SidecarPaths: _*)
          .withColumn("v", lit(cp.get))
      if (jsonPaths.nonEmpty)
        frames += spark.read.schema(ActionSchema).json(jsonPaths: _*)
          .withColumn("v", regexp_extract(col("_metadata.file_path"),
            """(\d{20})\.json$""", 1).cast("long"))
      if (compactedPaths.nonEmpty)
        frames += spark.read.schema(ActionSchema).json(compactedPaths: _*)
          .withColumn("v", regexp_extract(col("_metadata.file_path"),
            """\d{20}\.(\d{20})\.compacted\.json$""", 1).cast("long"))
      frames.result().map(_.select(actionCols: _*)).reduceOption(_.unionByName(_))
    }

    var schemaString: Option[String] = None
    var partCols: Seq[String] = Nil
    var config: Map[String, String] = Map.empty
    var metaVersion = -1L
    var protocol: Protocol = DefaultProtocol
    var protoVersion = -1L
    // newest action per path wins (paths are unique within a commit)
    val state = scala.collection.mutable.LinkedHashMap[String, (Long, Option[AddFile])]()
    // newest txn version per appId (streaming-sink idempotency state)
    val txns = scala.collection.mutable.HashMap[String, Long]()
    // newest domainMetadata per domain: (version, config or None=removed)
    val domains = scala.collection.mutable.HashMap[String, (Long, Option[String])]()
    def foldAction(v: Long, row: Row): Unit = {
      val addIdx = row.fieldIndex("add")
      val remIdx = row.fieldIndex("remove")
      val metaIdx = row.fieldIndex("metaData")
      val txnIdx = row.fieldIndex("txn")
      val protoIdx = row.fieldIndex("protocol")
      val domIdx = row.fieldIndex("domainMetadata")
      if (!row.isNullAt(domIdx)) {
        val d = row.getStruct(domIdx)
        val name = d.getAs[String]("domain")
        if (name != null && domains.get(name).forall(_._1 <= v)) {
          val removed = !d.isNullAt(d.fieldIndex("removed")) && d.getAs[Boolean]("removed")
          domains(name) = (v, if (removed) None else Option(d.getAs[String]("configuration")))
        }
      }
      if (!row.isNullAt(protoIdx) && v >= protoVersion) {
        val pr = row.getStruct(protoIdx)
        if (!pr.isNullAt(pr.fieldIndex("minReaderVersion"))) {
          protoVersion = v
          def feats(field: String): Set[String] =
            if (pr.isNullAt(pr.fieldIndex(field))) Set.empty
            else pr.getAs[scala.collection.Seq[String]](field).toSet
          protocol = Protocol(pr.getAs[Int]("minReaderVersion"),
            pr.getAs[Int]("minWriterVersion"),
            feats("readerFeatures"), feats("writerFeatures"))
        }
      }
      if (!row.isNullAt(txnIdx)) {
        val t = row.getStruct(txnIdx)
        val app = t.getAs[String]("appId")
        if (app != null && !t.isNullAt(t.fieldIndex("version"))) {
          val tv = t.getAs[Long]("version")
          if (txns.get(app).forall(_ < tv)) txns(app) = tv
        }
      }
      if (!row.isNullAt(metaIdx)) {
        val m = row.getStruct(metaIdx)
        if (v >= metaVersion && m.getAs[String]("schemaString") != null) {
          metaVersion = v
          schemaString = Option(m.getAs[String]("schemaString"))
          partCols = Option(m.getAs[scala.collection.Seq[String]]("partitionColumns"))
            .map(_.toSeq).getOrElse(Nil)
          config = Option(m.getAs[scala.collection.Map[String, String]]("configuration"))
            .map(_.toMap).getOrElse(Map.empty)
        }
      }
      if (!row.isNullAt(addIdx)) {
        val a = rowToAdd(row.getStruct(addIdx))
        if (state.get(a.path).forall(_._1 <= v)) state(a.path) = (v, Some(a))
      } else if (!row.isNullAt(remIdx)) {
        val p = row.getStruct(remIdx).getAs[String]("path")
        if (p != null && state.get(p).forall(_._1 <= v)) state(p) = (v, None)
      }
    }
    (cpActions ++ jsonActions).foreach { case (v, row) => foldAction(v, row) }
    // the distributed reconcile's surviving-adds frame, kept as a
    // LAZY handle for metadata-scale writers (checkpointV2 sidecars)
    var winnersDf: Option[DataFrame] = None
    stampedActions.foreach { acts =>
      // Two jobs over the log slice (non-file collect + file
      // reconcile) — deliberate: parquet checkpoints prune to the
      // filter columns on the first pass, and persisting a 10M-action
      // frame to dodge one JSON reparse would cost more memory than
      // the reread costs IO. Real Delta readers also make multiple
      // planning passes over the log.
      // non-file actions (protocol/metaData/txn/domainMetadata) are
      // O(commits) small: collect them and run the exact driver fold
      acts.where(col("add").isNull && col("remove").isNull &&
          (col("metaData").isNotNull || col("txn").isNotNull ||
            col("protocol").isNotNull || col("domainMetadata").isNotNull))
        .collect()
        .foreach(r => foldAction(r.getLong(r.fieldIndex("v")), r))
      // newest file action per path as ONE distributed job — the
      // shuffle key is the path, so 10M-file reconciliation spreads
      // over the cluster instead of a driver fold. The isAdd
      // tiebreak is unreachable in a legal log (a path appears at
      // most once per commit; sources never share a version) and
      // merely keeps the reconcile deterministic on corrupt input.
      // Only surviving adds come back to the driver — the same
      // model-sized file list every Delta reader holds at plan time.
      // partition pruning pushes INTO the reconcile: a pruned scan
      // of a 10M-file table collects only the matching partitions'
      // survivors, never the full file list (the predicate sees the
      // winning add's raw string partitionValues as map column `pv`)
      val reconciled = acts
        .where((col("add").isNotNull || col("remove").isNotNull) &&
          coalesce(col("add.path"), col("remove.path")).isNotNull)
        .groupBy(coalesce(col("add.path"), col("remove.path")).as("p"))
        .agg(max_by(struct(col("v"), col("add")),
          struct(col("v"), col("add").isNotNull)).as("w"))
        .where(col("w.add").isNotNull)
      val winnersFrame = partitionPrune.foldLeft(reconciled) { (df, pred) =>
          df.withColumn("pv", col("w.add.partitionValues")).where(pred)
        }
        .select(col("p"), col("w.v").as("v"), col("w.add").as("add"))
      // expose the handle only for UNPRUNED snapshots: a checkpoint
      // writer fed a pruned frame would silently drop every add
      // outside the predicate — data loss on all later replays
      if (partitionPrune.isEmpty) winnersDf = Some(winnersFrame)
      // deterministic state order via a DRIVER-side sort of the
      // collected survivors — the list is driver-bound here anyway,
      // so a global range-exchange before collect() would be a
      // needless extra stage at 10M survivors
      val winners = winnersFrame.collect().sortBy(_.getString(0))
      winners.foreach { r =>
        val a = rowToAdd(r.getStruct(r.fieldIndex("add")))
        state(a.path) = (r.getLong(r.fieldIndex("v")), Some(a))
      }
    }
    val schema = schemaString
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"no metaData action found in the log of $tablePath"))
    // honor the protocol gate: misreading a table whose required
    // reader features we lack (e.g. ignoring deletionVectors) would
    // silently return WRONG rows — refuse instead, like any
    // spec-compliant reader
    require(protocol.minReader <= MaxReaderVersion,
      s"$tablePath requires minReaderVersion ${protocol.minReader}; " +
        s"this reader supports up to $MaxReaderVersion")
    if (protocol.minReader >= 3) {
      val unsupported = protocol.readerFeatures -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"$tablePath requires reader features $unsupported; " +
          s"supported: $SupportedReaderFeatures")
    }
    val allFiles = state.values.collect { case (_, Some(a)) => a }.toSeq
    val files = partitionPrune match {
      case None => allFiles
      case Some(_) if distributed => allFiles // pruned inside the reconcile
      case Some(pred) =>
        // driver path: evaluate the SAME Column over the same raw
        // partitionValues via one tiny local job, so the two modes
        // prune bit-identically (the driver path only runs below the
        // byte threshold, so this frame is small by construction)
        import spark.implicits._
        val keep = allFiles.map(a => (a.path, a.partitionValues)).toDF("p", "pv")
          .where(pred).select("p").collect().map(_.getString(0)).toSet
        allFiles.filter(a => keep(a.path))
    }
    val snap = Snapshot(target, schema, partCols, files, txns.toMap, config,
      protocol,
      domains.collect { case (k, (_, Some(cfg))) => k -> cfg }.toMap)
    snap.filesDf = winnersDf
    snap
  }

  /** Highest committed `txn` version for `appId` (the Delta spec's
    * streaming-sink idempotency state) — None if the app never
    * committed to this table. */
  def lastTxnVersion(spark: SparkSession, tablePath: String, appId: String): Option[Long] =
    latestVersion(spark, tablePath)
      .flatMap(v => snapshot(spark, tablePath, Some(v)).txns.get(appId))

  /** Resolve an add-file path: percent-encoded table-relative by
    * default, used as-is when it is an absolute URI (legal per the
    * Delta spec, e.g. shallow clones / external files). */
  private def dataPath(tablePath: String, rel: String): Path = {
    val uri = try new URI(rel) catch { case _: Exception => null }
    if (uri != null && uri.isAbsolute) new Path(uri)
    else new Path(tablePath, URLDecoder.decode(rel, "UTF-8"))
  }

  /** Read a Delta table at the latest (or a pinned) version — ONE
    * scan relation over the log's add-file list, any layout, any
    * partition count ([[DeltaFileIndex]]). */
  def readDelta(spark: SparkSession, tablePath: String,
                version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, version)
    if (snap.files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    } else {
      scanRelation(spark, tablePath, snap.schema, snap.partitionColumns,
        snap.files.map(a => (a, Map.empty[String, String])))
    }
  }

  /** Read a Delta table with PARTITION PRUNING pushed into snapshot
    * reconstruction itself (`filesForScan` semantics): `prune` is a
    * predicate over the map column `pv` — each add action's raw
    * STRING partition values, e.g.
    * `element_at(col("pv"), "source") === "src1"` — applied inside
    * the distributed reconcile, so a pruned scan of a 10M-file table
    * ships only the matching partitions' survivors to the driver.
    * Below the replay threshold the same Column evaluates over the
    * folded list in one tiny local job — the two modes prune
    * bit-identically. Value-equal to
    * `readDelta(...).where(<decoded predicate>)` whenever `prune`
    * matches the decoded partition column's predicate (exact for
    * string partition columns; mind hive encodings for others). */
  def readDeltaPruned(spark: SparkSession, tablePath: String, prune: Column,
                      version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, version, Some(prune))
    if (snap.files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    } else {
      scanRelation(spark, tablePath, snap.schema, snap.partitionColumns,
        snap.files.map(a => (a, Map.empty[String, String])))
    }
  }

  /** Timestamp time travel: read the newest version whose commit was
    * made at or before `timestampMs` — resolved from the commit
    * files' modification times, the Delta spec's timestamp→version
    * rule (each version's timestamp is its log file's modification
    * time; callers needing clock-skew-proof ordering should pin by
    * version instead, same caveat as Delta itself documents). */
  def readDeltaAsOf(spark: SparkSession, tablePath: String,
                    timestampMs: Long): DataFrame = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    val (commits, checkpoints) = logVersions(fs, logDir)
    require(commits.nonEmpty || checkpoints.nonEmpty,
      s"not a Delta table (no commits): $tablePath")
    val eligible = commits.filter { v =>
      // authoritative order: the commit's own inCommitTimestamp when
      // the table stamps one; the log file's mtime otherwise
      inCommitTimestampOf(fs, logDir, v).getOrElse(
        fs.getFileStatus(new Path(logDir, f"$v%020d.json")).getModificationTime
      ) <= timestampMs
    }
    if (eligible.nonEmpty) readDelta(spark, tablePath, Some(eligible.max))
    else {
      // JSON commits may have been truncated past a checkpoint (the
      // DeltaOpsSpec VACUUM/trim state): the table is still readable
      // at checkpoint versions, resolved by the checkpoint file's own
      // mtime — same timestamp→version rule, one level down
      val cpEligible = checkpoints.filter { v =>
        fs.listStatus(logDir).toSeq.exists { st =>
          st.isFile &&
            CheckpointRe.findFirstMatchIn(st.getPath.getName).exists(_.group(1).toLong == v) &&
            st.getModificationTime <= timestampMs
        }
      }
      require(cpEligible.nonEmpty,
        s"no commit or checkpoint at or before timestamp $timestampMs " +
          s"(earliest: ${(commits ++ checkpoints).min})")
      readDelta(spark, tablePath, Some(cpEligible.max))
    }
  }

  // ---------------------------------------------------------------
  // per-file column statistics (the Delta add action's `stats` JSON)
  // ---------------------------------------------------------------

  /** Render one parquet-footer statistics value as the canonical
    * JSON fragment for the add action's `stats` field: numerics as
    * JSON numbers, strings as JSON strings, timestamps/dates as ISO
    * strings (the form [[DeltaFileIndex]] casts back at skip time,
    * and close to what delta-rs writes). None for types without a
    * sound footer representation — skipped, never guessed. */
  private def statValueJson(v: Any, f: StructField,
                            prim: org.apache.parquet.schema.PrimitiveType): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => Some(v.toString)
      case FloatType | DoubleType =>
        val d = v.toString.toDouble
        if (d.isNaN || d.isInfinite) None else Some(v.toString)
      case BooleanType => Some(v.toString)
      case StringType =>
        Some(jsonStr(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
      case DateType =>
        Some(jsonStr(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString))
      case TimestampType =>
        prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val micros = t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => v.asInstanceOf[Long]
              case LogicalTypeAnnotation.TimeUnit.MILLIS => v.asInstanceOf[Long] * 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS => v.asInstanceOf[Long] / 1000L
            }
            val secs = Math.floorDiv(micros, 1000000L)
            val frac = Math.floorMod(micros, 1000000L)
            val ts = java.time.LocalDateTime.ofEpochSecond(secs, frac.toInt * 1000,
              java.time.ZoneOffset.UTC)
            Some(jsonStr(ts.format(java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))))
          case _ => None // INT96 and friends carry no usable stats
        }
      case _ => None
    }
  }

  /** Compute the add action's `stats` JSON for a landed parquet file
    * from its FOOTER alone (no data read — same cost class as the
    * getFileStatus beside it): numRecords, per-column min/max (when
    * every row group has sound stats) and nullCount. Any surprise —
    * missing footer stats, unsupported type — degrades to omitting
    * that column, never to a wrong bound. */
  private def statsJsonFor(spark: SparkSession, file: Path,
                           dataSchema: StructType): Option[String] = {
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        val numRecords = blocks.asScala.map(_.getRowCount).sum
        val mins = scala.collection.mutable.LinkedHashMap[String, String]()
        val maxs = scala.collection.mutable.LinkedHashMap[String, String]()
        val nulls = scala.collection.mutable.LinkedHashMap[String, Long]()
        dataSchema.foreach { f =>
          val chunks = blocks.asScala.flatMap(
            _.getColumns.asScala.filter(_.getPath.toDotString == f.name))
          if (chunks.nonEmpty && chunks.forall(c =>
              c.getStatistics != null && !c.getStatistics.isEmpty &&
                c.getStatistics.isNumNullsSet)) {
            nulls(f.name) = chunks.map(_.getStatistics.getNumNulls).sum
            if (chunks.forall(_.getStatistics.hasNonNullValue)) {
              val prim = chunks.head.getPrimitiveType
              val ord = prim.comparator
                .asInstanceOf[java.util.Comparator[Any]]
              val mn = chunks.map(_.getStatistics.genericGetMin.asInstanceOf[Any])
                .reduce((a, b) => if (ord.compare(a, b) <= 0) a else b)
              val mx = chunks.map(_.getStatistics.genericGetMax.asInstanceOf[Any])
                .reduce((a, b) => if (ord.compare(a, b) >= 0) a else b)
              for {
                mnJ <- statValueJson(mn, f, prim)
                mxJ <- statValueJson(mx, f, prim)
              } {
                mins(f.name) = mnJ
                maxs(f.name) = mxJ
              }
            }
          }
        }
        def obj(m: scala.collection.Map[String, String]): String =
          m.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
        Some(s"""{"numRecords":$numRecords,"minValues":${obj(mins)},""" +
          s""""maxValues":${obj(maxs)},"nullCount":${obj(nulls.map {
            case (k, v) => k -> v.toString })}}""")
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Parse an add action's `stats` JSON into the skip-time model;
    * values stay strings (cast lazily against the filter's type).
    * Malformed stats parse to None — never skip on bad metadata. */
  private def parseStats(json: Option[String]): Option[FileStats] =
    json.flatMap { s =>
      try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(s)
        def strMap(field: String): Map[String, String] = {
          val n = node.path(field)
          if (!n.isObject) Map.empty
          else {
            import scala.jdk.CollectionConverters._
            n.fields().asScala.filterNot(_.getValue.isNull)
              .map(e => e.getKey -> e.getValue.asText).toMap
          }
        }
        val nulls = {
          val n = node.path("nullCount")
          if (!n.isObject) Map.empty[String, Long]
          else {
            import scala.jdk.CollectionConverters._
            n.fields().asScala.filter(_.getValue.canConvertToLong)
              .map(e => e.getKey -> e.getValue.asLong).toMap
          }
        }
        val num = if (node.path("numRecords").canConvertToLong)
          Some(node.path("numRecords").asLong) else None
        Some(FileStats(num, strMap("minValues"), strMap("maxValues"), nulls))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** One FileSourceScan over `files`, partition values (table's plus
    * any synthetic extras, e.g. the change feed's commit version)
    * re-attached from the log through the FileIndex, per-file stats
    * parsed into the index for data skipping. Missing sizes fall
    * back to one driver-side getFileStatus per file. */
  /** The raw single-relation scan over an explicit add-file list —
    * no column projection, so `_metadata` (file_path, row_index) is
    * still selectable by callers that need row identity (the
    * deletion-vector machinery). */
  // ---------------------------------------------------------------
  // column mapping (the Delta `delta.columnMapping.mode = name`
  // protocol): parquet files and per-file stats are keyed by a
  // field's PHYSICAL name, carried in the schema field metadata;
  // renames and drops touch only the metaData action
  // ---------------------------------------------------------------

  private val PhysicalNameKey = "delta.columnMapping.physicalName"

  /** Schema-metadata key carrying a generated column's SQL expression
    * (the Delta-spec generated-columns field). */
  private[sources] val GenExprKey = "delta.generationExpression"

  /** Session timezone the generation expression was DECLARED under
    * (graft extension): time-dependent expressions (CAST AS DATE,
    * date_trunc, year) are only deterministic per zone, so the
    * declared zone travels with the column — writers under a
    * different session zone are refused (their fill would disagree
    * with the stored rows), and the reader's derived partition
    * pruning maps literals under the DECLARED zone, not its own. */
  private[sources] val GenTzKey = "graft.generation.timeZone"

  /** name -> generation SQL for every generated column in `schema`. */
  private[sources] def generationExpressions(schema: StructType): Map[String, String] =
    schema.flatMap(f =>
      if (f.metadata.contains(GenExprKey))
        Some(f.name -> f.metadata.getString(GenExprKey))
      else None).toMap

  /** Generated columns declared on the table. */
  def generationExpressionsOf(spark: SparkSession, tablePath: String): Map[String, String] =
    generationExpressions(snapshot(spark, tablePath, None).schema)

  /** Declare a GENERATED ALWAYS AS column on a batch about to CREATE
    * (or overwrite-redefine) a table: computes `sqlExpr` and stamps
    * the expression into the field's schema metadata, where it
    * rides the log's schemaString. Every later `writeDelta` fills
    * the column when the caller omits it and REFUSES batches that
    * supply disagreeing values; a generated PARTITION column
    * additionally lets the reader derive partition pruning from
    * predicates on the source column (see [[DeltaFileIndex]]). */
  def withGeneratedColumn(df: DataFrame, name: String, sqlExpr: String): DataFrame = {
    val meta = new MetadataBuilder().putString(GenExprKey, sqlExpr)
      .putString(GenTzKey, df.sparkSession.sessionState.conf.sessionLocalTimeZone)
      .build()
    df.select(df.columns.map(col).toIndexedSeq :+ expr(sqlExpr).as(name, meta): _*)
  }

  /** Schema-metadata keys for identity columns (the Delta-spec
    * `delta.identity.*` fields). */
  private[sources] val IdStartKey = "delta.identity.start"
  private[sources] val IdStepKey = "delta.identity.step"
  private[sources] val IdWatermarkKey = "delta.identity.highWaterMark"

  private[sources] def identityFields(schema: StructType): Seq[StructField] =
    schema.filter(_.metadata.contains(IdStepKey))

  /** (start, step, highWaterMark) declared on the table's identity
    * columns, keyed by column name. */
  def identityColumnsOf(spark: SparkSession, tablePath: String)
      : Map[String, (Long, Long, Option[Long])] =
    identityFields(snapshot(spark, tablePath, None).schema).map { f =>
      f.name -> (f.metadata.getLong(IdStartKey), f.metadata.getLong(IdStepKey),
        if (f.metadata.contains(IdWatermarkKey)) Some(f.metadata.getLong(IdWatermarkKey))
        else None)
    }.toMap

  /** Declare a GENERATED ALWAYS AS IDENTITY column on a batch about
    * to CREATE a table. The writer assigns every value: this helper
    * adds a null placeholder carrying the `delta.identity.*`
    * declaration, `writeDelta` replaces it with fresh values above
    * the high watermark, and any batch SUPPLYING its own values is
    * refused (GENERATED ALWAYS semantics). Values are unique and
    * follow start/step; gaps across batches are allowed by the spec
    * (ours are dense per batch). */
  def withIdentityColumn(df: DataFrame, name: String,
                         start: Long = 1L, step: Long = 1L): DataFrame = {
    require(step != 0L, "identity step must be non-zero")
    val meta = new MetadataBuilder()
      .putLong(IdStartKey, start).putLong(IdStepKey, step).build()
    df.select(df.columns.map(col).toIndexedSeq :+
      lit(null).cast(LongType).as(name, meta): _*)
  }

  /** Assign dense identity values `firstValue, firstValue + step, …`
    * — the scale-safe two-phase shape, fully COLUMNAR: one
    * per-partition COUNT job (map-side partial agg, #partitions rows
    * shuffled), prefix offsets computed driver-side (O(#partitions))
    * and pushed back as a literal map, then a map-side projection
    * `firstValue + step × (offset(pid) + row-in-partition)` where
    * row-in-partition falls out of `monotonically_increasing_id`'s
    * encoding (pid in the upper bits). No shuffle of data rows, no
    * global window, no RDD round-trip — the batch never leaves
    * Tungsten rows. The count job and the projection job MUST see
    * the same partitioning, so the batch is PINNED with an eager
    * localCheckpoint first (AQE or a non-deterministic upstream
    * could otherwise repartition between the two jobs and silently
    * assign duplicate ids); as cheap insurance the projection also
    * RAISES on any pid absent from the count job instead of letting
    * `element_at` null out and ride to the not-null guard. */
  private[sources] def assignIdentity(df: DataFrame, field: StructField,
                             firstValue: Long, step: Long): DataFrame = {
    val others = df.schema.filterNot(_.name == field.name)
    val base = df.select(others.map(f => col(f.name)).toIndexedSeq: _*)
      .localCheckpoint(true)
    val counts: Seq[(Int, Long)] = base
      .groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.sortBy(_._1).map { case (p, c) => val o = acc; acc += c; p -> o }.toMap
    }
    val rowInPart =
      monotonically_increasing_id() - shiftleft(spark_partition_id().cast(LongType), 33)
    val off = element_at(typedLit(offsets), spark_partition_id())
    val offChecked = off + coalesce(
      assert_true(off.isNotNull,
        lit("identity assignment saw a partition id absent from its count job " +
          "— the pinned plan's partitioning changed between jobs")),
      lit(0L))
    val value = lit(firstValue) + lit(step) * (offChecked + rowInPart)
    base.select((others.map(f => col(f.name)) :+
      value.cast(LongType).as(field.name, field.metadata)).toIndexedSeq: _*)
  }

  private[sources] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  private def withPhysicalName(f: StructField, phys: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalNameKey, phys).build())

  /** Rename `df`'s logical columns to their physical names for a
    * parquet write (identity on unmapped tables). */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.map(f => col(f.name).as(physicalName(f))).toIndexedSeq: _*)

  /** A generation expression this reader can treat as MONOTONE
    * NON-DECREASING for partition-filter derivation, as (source
    * column, the equivalent Catalyst builder from a source-typed
    * child): `CAST(c AS DATE)` / `to_date(c)`, `date_trunc(unit, c)`,
    * and `year(c)` over a timestamp — the shapes Delta's own
    * generated-column optimization recognizes. Anything else derives
    * nothing (safe, just not pruned). */
  private def monotoneGenShape(spark: SparkSession, sqlExpr: String)
      : Option[(String, org.apache.spark.sql.catalyst.expressions.Expression =>
                        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast => CCast, Expression => CExpr}
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, TruncTimestamp, Year}
    def attr1(e: CExpr): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.name)
      case _ => None
    }
    try spark.sessionState.sqlParser.parseExpression(sqlExpr) match {
      case c: CCast if c.dataType == DateType =>
        attr1(c.child).map(n => (n, (ch: CExpr) => CCast(ch, DateType)))
      case f: UnresolvedFunction if f.arguments.nonEmpty =>
        f.nameParts.map(_.toLowerCase) match {
          case Seq("to_date") if f.arguments.length == 1 =>
            attr1(f.arguments.head).map(n => (n, (ch: CExpr) => CCast(ch, DateType)))
          case Seq("date_trunc") if f.arguments.length == 2 =>
            (f.arguments(0), attr1(f.arguments(1))) match {
              case (CLit(u, StringType), Some(n)) =>
                // monotone grains only (DOW/WEEK floor backwards non-
                // uniformly but remain non-decreasing too; keep the
                // calendar-aligned set for clarity)
                val unit = String.valueOf(u).toUpperCase
                if (Set("YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
                    "HOUR", "MINUTE").contains(unit))
                  Some((n, (ch: CExpr) =>
                    TruncTimestamp(CLit.create(unit, StringType), ch)))
                else None
              case _ => None
            }
          case Seq("year") if f.arguments.length == 1 =>
            attr1(f.arguments.head).map(n => (n, (ch: CExpr) => Year(CCast(ch, DateType))))
          case _ => None
        }
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Derived-pruning rules for generated partition columns whose
    * source is a timestamp data column (see [[GenPartRule]]). Keys
    * are PHYSICAL names — what the scan's filters and partition
    * schema actually carry. */
  private def genPartRules(spark: SparkSession, schema: StructType,
                           partitionColumns: Seq[String]): Seq[GenPartRule] = {
    schema.filter(f => partitionColumns.contains(f.name) && f.metadata.contains(GenExprKey))
      .flatMap { f =>
        // the zone the VALUES were computed under; session zone only
        // for legacy declarations that predate the stamp
        val tz = if (f.metadata.contains(GenTzKey)) f.metadata.getString(GenTzKey)
          else spark.sessionState.conf.sessionLocalTimeZone
        monotoneGenShape(spark, f.metadata.getString(GenExprKey)).flatMap {
          case (srcName, build) =>
            schema.find(s => s.name == srcName &&
                (s.dataType == TimestampType || s.dataType == TimestampNTZType) &&
                !partitionColumns.contains(s.name))
              .flatMap { src =>
                import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
                import org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression
                def resolveTz(e: org.apache.spark.sql.catalyst.expressions.Expression) =
                  e.transform {
                    case t: TimeZoneAwareExpression if t.timeZoneId.isEmpty =>
                      t.withTimeZone(tz)
                  }
                val probe = resolveTz(build(CLit.create(null, src.dataType)))
                // the declared partition type must match the shape's
                // result type, or the derived literal would be wrong
                if (probe.dataType != f.dataType) None
                else Some(GenPartRule(physicalName(f), f.dataType, physicalName(src),
                  v => resolveTz(build(CLit.create(v, src.dataType))).eval(null)))
              }
        }
      }
  }

  private def scanRelationBase(spark: SparkSession, tablePath: String,
                               schema: StructType, partitionColumns: Seq[String],
                               files: Seq[(AddFile, Map[String, String])],
                               // physical-only columns present in SOME
                               // files (e.g. materialized row ids) —
                               // read as null where absent, passed
                               // through the projection verbatim
                               extraDataFields: Seq[StructField] = Nil): DataFrame = {
    val table = new Path(tablePath)
    lazy val fs = fsOf(spark, table)
    // the relation reads the files' PHYSICAL column names (identical
    // to the logical ones unless column mapping has renamed fields);
    // the trailing projection re-aliases to the logical view, which
    // metadata columns survive (Project propagates metadataOutput)
    val partSchema = StructType(partitionColumns.map(c =>
      { val f = schema(c); f.copy(name = physicalName(f)) }))
    val dataSchema = StructType(schema.filterNot(f => partitionColumns.contains(f.name))
      .map(f => f.copy(name = physicalName(f))) ++
      extraDataFields.map(_.copy(nullable = true)))
    val indexed = files.map { case (a, extra) =>
      val p = dataPath(tablePath, a.path)
      val size = a.size.getOrElse(fs.getFileStatus(p).getLen)
      (p, size, a.modificationTime.getOrElse(0L), a.partitionValues ++ extra)
    }
    val stats: Map[Path, FileStats] = files.iterator.flatMap { case (a, _) =>
      parseStats(a.stats).map(st => dataPath(tablePath, a.path) -> st)
    }.toMap
    val index = new DeltaFileIndex(spark, table, partSchema, indexed, stats,
      genPartRules(spark, schema, partitionColumns))
    val relation = HadoopFsRelation(index, partSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
      .select((schema.map(f => col(physicalName(f)).as(f.name)) ++
        extraDataFields.map(f => col(f.name))).toIndexedSeq: _*)
  }

  /** Tag scan rows with their physical identity: file basename +
    * parquet row index, via the file-source `_metadata` column. */
  private def withFileIdentity(df: DataFrame): DataFrame = df
    .withColumn("__graft_dv_file",
      element_at(split(col("_metadata.file_path"), "/"), -1))
    .withColumn("__graft_dv_ri", col("_metadata.row_index"))

  /** Resolve a descriptor's on-disk sidecar path (None for inline
    * "i" vectors, which carry their bytes in the descriptor). */
  private[sources] def dvPath(tablePath: String, d: DvDesc): Option[Path] =
    d.storageType match {
      case "u" =>
        val uuid = DeletionVectors.decodeUUID(d.pathOrInlineDv.takeRight(20))
        val prefix = d.pathOrInlineDv.dropRight(20)
        val name = s"deletion_vector_$uuid.bin"
        Some(if (prefix.isEmpty) new Path(tablePath, name)
             else new Path(new Path(tablePath, prefix), name))
      case "p" =>
        // fail CLEARLY on round-7-era parquet pair-list sidecars
        // rather than misparsing them as roaring .bin (the size word
        // would read parquet magic and every scan would CRC-error)
        require(!d.pathOrInlineDv.endsWith(".parquet"),
          s"legacy parquet pair-list deletion vector (${d.pathOrInlineDv}): this " +
            "build reads only the Delta spec's roaring .bin format; materialize " +
            "the deletes (OPTIMIZE) with the build that wrote them before upgrading")
        Some(dataPath(tablePath, d.pathOrInlineDv))
      case "i" => None
      case other => throw new IllegalStateException(
        s"unsupported deletion-vector storageType '$other'")
    }

  /** One vector's serialized bitmap data (magic + portable roaring),
    * checksum-verified; `offset` defaults to 1 (right after the
    * sidecar's version byte) when the descriptor omits it. */
  private def dvBlobBytes(fs: FileSystem, tablePath: String, d: DvDesc): Array[Byte] =
    dvPath(tablePath, d) match {
      case None => DeletionVectors.decodeBase85(d.pathOrInlineDv)
      case Some(p) =>
        DeletionVectors.readBlob(fs, p, d.offset.getOrElse(1), d.sizeInBytes)
    }

  /** Broadcast-side DV probe: bitmaps stay SERIALIZED for transport
    * (the compressed portable form, O(compressed bits) — ~100 MB per
    * ~1e9 deletions) and inflate lazily ONCE per executor. The
    * serialized copy is deliberately KEPT after inflation: the block
    * manager may re-serialize the broadcast value under memory
    * pressure (MEMORY_AND_DISK eviction re-serializes the LIVE
    * object, and in local mode the value block IS this instance), so
    * nulling `bytes` post-inflate would persist a husk that NPEs on
    * the next reinflation. Worst case both forms coexist under the
    * 128 MB broadcast cap — bounded, and correctness beats the
    * saving. */
  private[sources] class DvProbe(private val bytes: Map[String, Array[Byte]])
      extends Serializable {
    @transient private lazy val maps: Map[String, Roaring64NavigableMap] =
      bytes.map { case (k, v) => k -> DeletionVectors.deserializeBitmap(v) }
    def deleted(file: String, ri: Long): Boolean =
      maps.get(file).exists(_.contains(ri))
  }

  /** Static eval body shared by [[DvKeepExpr]]'s interpreted and
    * generated paths (the NativeExprs pattern — one JVM method, two
    * callers, so the paths cannot drift). Takes Object so the
    * generated Java never names the Scala-nested DvProbe class. */
  def dvKeepObj(probeAny: Object, file: org.apache.spark.unsafe.types.UTF8String,
                ri: Long): Boolean =
    !probeAny.asInstanceOf[DvProbe].deleted(file.toString, ri)

  /** The deletion-vector row filter as a codegen-capable Catalyst
    * expression: `!probe.deleted(file, rowIndex)` with the broadcast
    * bitmap map attached as a plan reference. The previous Scala UDF
    * computed the same thing but knocked every DV-carrying scan out
    * of whole-stage codegen (a `BatchEvalNonDeterministic`-style
    * eval boundary per row); this node generates a single static
    * call, so the filter stays inside the scan's codegen stage. */
  private[sources] case class DvKeepExpr(
      left: org.apache.spark.sql.catalyst.expressions.Expression,
      right: org.apache.spark.sql.catalyst.expressions.Expression,
      probe: org.apache.spark.broadcast.Broadcast[DvProbe])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(f: Any, ri: Any): Any =
      java.lang.Boolean.valueOf(dvKeepObj(probe.value,
        f.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        ri.asInstanceOf[Long]))
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("graftDvProbe", probe,
        "org.apache.spark.broadcast.Broadcast")
      defineCodeGen(ctx, ev, (f, ri) =>
        s"graft.sources.DeltaSource.dvKeepObj($ref.value(), $f, $ri)")
    }
    override protected def withNewChildrenInternal(
        l: org.apache.spark.sql.catalyst.expressions.Expression,
        r: org.apache.spark.sql.catalyst.expressions.Expression): DvKeepExpr =
      copy(left = l, right = r)
  }

  /** Broadcast ceiling for the DV probe: above either bound, the
    * driver stops loading sidecars and the deleted rows are removed
    * by a SHUFFLED anti-join instead (executors inflate each file's
    * bitmap and explode it to pairs — nothing row-scale ever sits on
    * one node). Compaction (`optimizeDelta`) purges DVs, so a table
    * on a normal OPTIMIZE cadence stays far under these bounds. */
  private[sources] var DvBroadcastMaxBytes: Long = 128L * 1024 * 1024
  private[sources] var DvBroadcastMaxFiles: Int = 4096

  /** Fallback pair list for huge DV sets: one executor task group
    * inflates each descriptor and streams its row indexes out. */
  private def dvPairsDistributed(spark: SparkSession, tablePath: String,
                                 dvFiles: Seq[AddFile]): DataFrame = {
    import spark.implicits._
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val descs: Seq[(String, DvDesc)] =
      dvFiles.map(a => (dataPath(tablePath, a.path).getName, a.dv.get))
    spark.createDataset(descs)
      .repartition(math.max(1, math.min(descs.size, 64)))
      .flatMap { case (name, d) =>
        val fs = new Path(tablePath).getFileSystem(serConf.value)
        val bm = DeletionVectors.deserializeBitmap(dvBlobBytes(fs, tablePath, d))
        val it = bm.getLongIterator
        new Iterator[(String, Long)] {
          def hasNext: Boolean = it.hasNext
          def next(): (String, Long) = (name, it.next())
        }
      }.toDF("dv_file", "row_index")
  }

  /** Drop the rows marked deleted from a file-identity-tagged scan.
    * Normal path: the file→bitmap map travels as ONE model-sized
    * broadcast and each scan task probes it row-side — per-file DV
    * application, the same shape as Delta's own read path (never a
    * row-per-deleted-row relation through an exchange). Above the
    * broadcast ceiling: shuffled anti-join on exploded pairs. */
  private def applyDv(spark: SparkSession, tablePath: String,
                      tagged: DataFrame, files: Seq[AddFile]): DataFrame = {
    val dvFiles = files.filter(_.dv.nonEmpty)
    if (dvFiles.isEmpty) return tagged
    val totalBytes = dvFiles.map(_.dv.get.sizeInBytes.toLong).sum
    if (dvFiles.size <= DvBroadcastMaxFiles && totalBytes <= DvBroadcastMaxBytes) {
      val fs = fsOf(spark, new Path(tablePath))
      val bytes: Map[String, Array[Byte]] = dvFiles.map { a =>
        dataPath(tablePath, a.path).getName -> dvBlobBytes(fs, tablePath, a.dv.get)
      }.toMap
      val probe = spark.sparkContext.broadcast(new DvProbe(bytes))
      val keep = org.apache.spark.sql.GraftBridge.column(DvKeepExpr(
        org.apache.spark.sql.GraftBridge.expression(col("__graft_dv_file")),
        org.apache.spark.sql.GraftBridge.expression(col("__graft_dv_ri")),
        probe))
      tagged.where(keep)
    } else {
      val pairs = dvPairsDistributed(spark, tablePath, dvFiles)
      tagged.join(pairs,
        tagged("__graft_dv_file") === pairs("dv_file") &&
          tagged("__graft_dv_ri") === pairs("row_index"), "left_anti")
    }
  }

  private[sources] def scanRelation(spark: SparkSession, tablePath: String,
                           schema: StructType, partitionColumns: Seq[String],
                           files: Seq[(AddFile, Map[String, String])]): DataFrame = {
    val base = scanRelationBase(spark, tablePath, schema, partitionColumns, files)
    val out = schema.map(f => col(f.name)).toIndexedSeq
    if (files.forall(_._1.dv.isEmpty)) base.select(out: _*)
    else applyDv(spark, tablePath, withFileIdentity(base), files.map(_._1))
      .select(out: _*)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def configJson(cfg: Map[String, String]): String =
    cfg.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")

  /** CHECK constraints declared on the table (the Delta writer-
    * protocol `delta.constraints.<name>` table properties). */
  def checkConstraintsOf(spark: SparkSession, tablePath: String): Map[String, String] =
    snapshot(spark, tablePath, None).configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }

  /** `delta.appendOnly = true` (the writer-protocol appendOnly
    * invariant): any commit that would REMOVE data from the table is
    * refused — overwrites, merges touching existing keys, deletes,
    * restores. Appends, metadata commits and dataChange=false layout
    * swaps stay legal. */
  private def refuseIfAppendOnly(cfg: Map[String, String], op: String,
                                 removesData: Boolean): Unit =
    if (removesData && cfg.get("delta.appendOnly").contains("true"))
      throw new IllegalStateException(
        s"$op would remove data from an appendOnly table (delta.appendOnly = true); " +
          "nothing was committed")

  /** NOT NULL invariants (writer protocol minWriter 2): a
    * non-nullable field in the table schema refuses batches carrying
    * NULL in that column. Enforced INLINE in the staging write's own
    * projection (`raise_error` guard per row) — zero extra passes at
    * any batch size; a violation fails the stage job before anything
    * is committed. */
  private def withNotNullGuards(df: DataFrame, schema: StructType): DataFrame = {
    val guarded = schema.filter(f => !f.nullable && df.columns.contains(f.name))
      .map(_.name).toSet
    if (guarded.isEmpty) df
    else df.select(df.columns.map { c =>
      if (!guarded.contains(c)) col(c)
      else {
        val dt = df.schema(c).dataType
        when(col(c).isNull, raise_error(lit(
          s"NOT NULL invariant violated: column $c received null values; " +
            "nothing was committed")).cast(dt))
          .otherwise(col(c)).as(c)
      }
    }.toIndexedSeq: _*)
  }

  /** Advance identity high watermarks in `schema` from the staged
    * adds' FOOTER stats (the farthest value in step direction; no
    * data re-read). Fallback when min/max could not be read: derive
    * from numRecords and the round's first assigned value (dense
    * assignment; for merges this may over-advance past survivor
    * rows, which only creates spec-legal gaps). If rows landed and
    * neither is provable, REFUSE — a silently stale watermark means
    * duplicate GENERATED ALWAYS keys on the next append. */
  private def advanceIdentityWatermarks(schema: StructType, adds: Seq[StagedAdd],
                                        idFirstValue: Map[String, Long]): StructType =
    if (identityFields(schema).isEmpty) schema
    else StructType(schema.map { f =>
      if (!f.metadata.contains(IdStepKey)) f
      else {
        val step = f.metadata.getLong(IdStepKey)
        val phys = physicalName(f)
        val assigned = adds.flatMap(a => parseStats(a.stats)).flatMap { st =>
          (if (step > 0) st.maxValues else st.minValues).get(phys).map(_.toLong)
        }
        val derived: Seq[Long] =
          if (assigned.nonEmpty) assigned
          else {
            val counts = adds.map(a => parseStats(a.stats).flatMap(_.numRecords))
            val n = counts.flatten.sum
            if (counts.nonEmpty && counts.exists(_.isEmpty))
              throw new IllegalStateException(
                s"cannot advance identity watermark for ${f.name}: staged files " +
                  "carry no readable footer stats; refusing the commit rather " +
                  "than risking duplicate identity values")
            else if (n > 0 && idFirstValue.contains(f.name))
              Seq(idFirstValue(f.name) + step * (n - 1))
            else Seq.empty
          }
        val wm = (if (f.metadata.contains(IdWatermarkKey))
            Seq(f.metadata.getLong(IdWatermarkKey)) else Seq.empty) ++ derived
        if (wm.isEmpty) f
        else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(IdWatermarkKey, if (step > 0) wm.max else wm.min).build())
      }
    })

  /** Enforce CHECK constraints on a batch about to land: a row
    * violates a constraint when the expression evaluates to FALSE
    * (NULL passes, the SQL-standard CHECK semantics Delta uses).
    * One filter+limit job per write, only when constraints exist;
    * throws before anything is staged or committed. */
  private def enforceConstraints(df: DataFrame,
                                 constraints: Map[String, String]): Unit =
    constraints.toSeq.sortBy(_._1).foreach { case (name, sqlExpr) =>
      val bad = df.where(!coalesce(expr(sqlExpr), lit(true))).limit(1).count()
      if (bad > 0) throw new IllegalStateException(
        s"CHECK constraint $name ($sqlExpr) violated by the incoming batch; " +
          "nothing was committed")
    }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, /* overwrite = */ true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def renameOrFail(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst),
      s"rename $src -> $dst failed (destination exists or cross-filesystem move); " +
        "aborting before any log entry references the missing file")

  /** Encode a table-relative path for an add action: percent-encode
    * each segment, keep `/` separators literal. */
  private def encodeRelPath(rel: String): String =
    rel.split('/').map(URLEncoder.encode(_, "UTF-8")).mkString("/")

  // ---------------------------------------------------------------
  // row tracking (the Delta `rowTracking` writer feature): every add
  // carries a fresh baseRowId range below a table-wide high watermark
  // kept in the `delta.rowTracking` domainMetadata; a row's stable id
  // is its file's materialized row-id column value when present (set
  // by rewrites such as OPTIMIZE) and baseRowId + row_index otherwise
  // ---------------------------------------------------------------
  private[sources] val RowTrackingKey = "delta.enableRowTracking"
  private[sources] val RowTrackingDomain = "delta.rowTracking"
  private[sources] val MatRowIdColKey =
    "delta.rowTracking.materializedRowIdColumnName"
  private[sources] val MatRowVerColKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  private def rowTrackingOn(cfg: Map[String, String]): Boolean =
    cfg.get(RowTrackingKey).contains("true")

  private val HwmRe = """"rowIdHighWaterMark"\s*:\s*(-?\d+)""".r

  /** The highest row id ever allocated (-1 on a fresh table). */
  private[sources] def rowIdHighWaterMark(domains: Map[String, String]): Long =
    domains.get(RowTrackingDomain)
      .flatMap(cfg => HwmRe.findFirstMatchIn(cfg).map(_.group(1).toLong))
      .getOrElse(-1L)

  private def rowTrackingDomainLine(hwm: Long): String =
    s"""{"domainMetadata":{"domain":${jsonStr(RowTrackingDomain)},"configuration":${jsonStr(s"""{"rowIdHighWaterMark":$hwm}""")},"removed":false}}"""

  /** Assign fresh row-id ranges to staged adds (path-sorted, so the
    * assignment is deterministic for a deterministically-staged
    * batch) and advance the high watermark. Sizes come from the adds'
    * own footer stats — no extra job, model-sized work on the driver.
    * No-op (adds unchanged, no extra lines) when the table doesn't
    * track rows. */
  private def allocRowIds(cfg: Map[String, String], domains: Map[String, String],
                          commitVersion: Long, adds: Seq[StagedAdd])
      : (Seq[StagedAdd], Seq[String]) = {
    if (!rowTrackingOn(cfg) || adds.isEmpty) return (adds, Nil)
    var next = rowIdHighWaterMark(domains) + 1
    val out = adds.sortBy(_.relPath).map { a =>
      val n = parseStats(a.stats).flatMap(_.numRecords).getOrElse(
        throw new IllegalStateException(
          s"row tracking requires numRecords stats on every add (missing: ${a.relPath})"))
      val withIds = a.copy(baseRowId = Some(next),
        defaultRowCommitVersion = Some(commitVersion))
      next += n
      withIds
    }
    (out, Seq(rowTrackingDomainLine(next - 1)))
  }

  // ---------------------------------------------------------------
  // type widening (the Delta `typeWidening` reader-writer feature):
  // an append may widen a column's type in place — one metaData
  // action, zero files rewritten; old files read through the parquet
  // reader's native type promotion
  // ---------------------------------------------------------------

  /** Supported widenings, transitive over the integral chain —
    * exactly the promotions Spark's vectorized parquet reader decodes
    * natively from narrower physical pages. */
  private[sources] def isWidening(from: DataType, to: DataType): Boolean = {
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if intRank.contains(f) && intRank.contains(t) =>
        intRank(f) < intRank(t)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  private val TypeChangesKey = "delta.typeChanges"

  /** Append this widening to the field's `delta.typeChanges` history
    * (the spec's record of when each promotion happened). */
  private def withTypeChange(m: Metadata, from: DataType, to: DataType,
                             tableVersion: Long): Metadata = {
    val prior =
      if (m.contains(TypeChangesKey)) m.getMetadataArray(TypeChangesKey).toSeq
      else Nil
    val entry = new MetadataBuilder()
      .putString("fromType", from.simpleString)
      .putString("toType", to.simpleString)
      .putLong("tableVersion", tableVersion).build()
    new MetadataBuilder().withMetadata(m)
      .putMetadataArray(TypeChangesKey, (prior :+ entry).toArray).build()
  }

  /** Commit `df` as the next version of a Delta table, hive-
    * partitioned by `partitionBy` (which delta-rs and Delta Lake read
    * natively; on an existing table the columns are inherited and
    * must not conflict). `overwrite = true` logically removes the
    * previous snapshot's files in the same commit (full-snapshot
    * replace, the reference's zone-write mode); `false` appends. The
    * JSON commit file goes through `commitStore.putIfAbsent` — two
    * racing writers get one winner, Delta's optimistic concurrency
    * contract (atomicity caveats per [[CommitStore]]: the default is
    * safe on local/HDFS or under a single writer; object stores need
    * a coordination-backed store). */
  def writeDelta(df: DataFrame, tablePath: String, overwrite: Boolean = true,
                 partitionBy: Seq[String] = Nil,
                 commitStore: CommitStore = CreateExclusiveCommitStore,
                 txn: Option[(String, Long)] = None,
                 mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val table = new Path(tablePath)
    val logDir = new Path(table, "_delta_log")
    val fs = fsOf(spark, table)
    fs.mkdirs(logDir)
    val prev = latestVersion(spark, tablePath)
    val next = prev.map(_ + 1).getOrElse(0L)
    val prevSnap = prev.map(v => snapshot(spark, tablePath, Some(v)))
    // write-path protocol gate: an existing table demanding writer
    // features we don't implement is refused before any data lands
    prevSnap.foreach(s => requireWritable(s.protocol, tablePath))
    // generated columns: fill absent ones from their stored
    // expressions (metadata carried so an overwrite redefinition
    // keeps the declaration), and refuse batches whose SUPPLIED
    // values disagree with the expression — one filter+limit job per
    // supplied generated column, only when the table declares any
    val genExprs: Map[String, String] =
      prevSnap.map(s => generationExpressions(s.schema))
        .getOrElse(generationExpressions(df.schema))
    prevSnap.map(_.schema).getOrElse(df.schema)
      .filter(f => f.metadata.contains(GenExprKey) && f.metadata.contains(GenTzKey))
      .foreach { f =>
        val declared = f.metadata.getString(GenTzKey)
        val session = spark.sessionState.conf.sessionLocalTimeZone
        require(declared == session,
          s"generated column ${f.name} was declared under session timezone " +
            s"$declared; this session uses $session — the fill would disagree " +
            "with the stored rows. Set spark.sql.session.timeZone accordingly.")
      }
    val dfIn = genExprs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, e)) =>
      if (d.columns.contains(name)) d
      else {
        val pf = prevSnap.getOrElse(throw new IllegalStateException(
          s"generated column $name missing from a table-creating batch")).schema(name)
        d.select(d.columns.map(col).toIndexedSeq :+
          expr(e).cast(pf.dataType).as(name, pf.metadata): _*)
      }
    }
    genExprs.toSeq.sortBy(_._1).foreach { case (name, e) =>
      if (df.columns.contains(name)) {
        val dt = prevSnap.map(_.schema(name).dataType).getOrElse(df.schema(name).dataType)
        val bad = dfIn.where(!(col(name) <=> expr(e).cast(dt))).limit(1).count()
        if (bad > 0) throw new IllegalStateException(
          s"generated column $name: supplied values disagree with its expression ($e); " +
            "nothing was committed")
      }
    }
    // identity columns: GENERATED ALWAYS — the writer assigns every
    // value (dense above the high watermark, two-phase map-side);
    // a batch supplying its own non-null values is refused
    val idFields: Seq[StructField] =
      prevSnap.map(s => identityFields(s.schema)).getOrElse(identityFields(dfIn.schema))
    val idFirstValue = scala.collection.mutable.Map.empty[String, Long]
    val dfId = idFields.sortBy(_.name).foldLeft(dfIn) { case (d, pf) =>
      require(pf.dataType == LongType,
        s"identity column ${pf.name} must be BIGINT, got ${pf.dataType}")
      if (d.columns.contains(pf.name) &&
          d.where(col(pf.name).isNotNull).limit(1).count() > 0)
        throw new IllegalStateException(
          s"identity column ${pf.name} is GENERATED ALWAYS; remove the supplied " +
            "values (nothing was committed)")
      val step = pf.metadata.getLong(IdStepKey)
      val watermark =
        if (pf.metadata.contains(IdWatermarkKey)) pf.metadata.getLong(IdWatermarkKey)
        else pf.metadata.getLong(IdStartKey) - step
      idFirstValue(pf.name) = watermark + step
      assignIdentity(d, pf, watermark + step, step)
    }
    val partCols: Seq[String] = prevSnap match {
      case Some(s) =>
        require(partitionBy.isEmpty || partitionBy == s.partitionColumns,
          s"partitionBy $partitionBy conflicts with table's ${s.partitionColumns}")
        s.partitionColumns
      case None => partitionBy
    }
    require(partCols.forall(dfId.columns.contains),
      s"partition columns $partCols missing from ${dfId.columns.toSeq}")
    // schema evolution: an overwrite REDEFINES the table schema; an
    // append keeps it, unless mergeSchema widens it with the df's
    // new columns (appended as nullable — older files read as null
    // through the scan, the standard missing-column semantics).
    // Shared columns must agree on type either way.
    // under column mapping, a column carried across schema changes
    // keeps its physical name and a NEW column gets a FRESH col-uuid
    // — re-adding a dropped column's logical name must NOT resurrect
    // the old files' values
    val mappingOn = prevSnap.exists(
      _.configuration.get("delta.columnMapping.mode").contains("name"))
    def carryPhysical(f: StructField, prevSchema: StructType): StructField =
      if (!mappingOn) f
      else prevSchema.find(_.name == f.name) match {
        case Some(pf) => withPhysicalName(f, physicalName(pf))
        case None => withPhysicalName(f, s"col-${UUID.randomUUID().toString}")
      }
    // an overwrite redefinition keeps a generated/identity column's
    // declaration even when the caller's field lost the metadata
    def carryGenMeta(f: StructField, prevSchema: StructType): StructField =
      prevSchema.find(_.name == f.name) match {
        case Some(pf) =>
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          if (!f.metadata.contains(GenExprKey) && pf.metadata.contains(GenExprKey)) {
            mb.putString(GenExprKey, pf.metadata.getString(GenExprKey))
            if (pf.metadata.contains(GenTzKey))
              mb.putString(GenTzKey, pf.metadata.getString(GenTzKey))
          }
          if (!f.metadata.contains(IdStepKey) && pf.metadata.contains(IdStepKey)) {
            mb.putLong(IdStartKey, pf.metadata.getLong(IdStartKey))
            mb.putLong(IdStepKey, pf.metadata.getLong(IdStepKey))
            if (pf.metadata.contains(IdWatermarkKey))
              mb.putLong(IdWatermarkKey, pf.metadata.getLong(IdWatermarkKey))
          }
          f.copy(metadata = mb.build())
        case None => f
      }
    var widened = false
    val tableSchema: StructType = prevSnap match {
      case None => dfId.schema
      case Some(s) =>
        if (overwrite) {
          dfId.schema.filter(f => s.schema.exists(_.name == f.name)).foreach { f =>
            require(s.schema(f.name).dataType == f.dataType,
              s"column ${f.name}: ${f.dataType} conflicts with table's ${s.schema(f.name).dataType}")
          }
          StructType(dfId.schema.map(f => carryPhysical(carryGenMeta(f, s.schema), s.schema)))
        } else {
          // shared columns: equal stays; a NARROWER batch value
          // upcasts silently (safe implicit cast); a WIDER batch type
          // WIDENS the table in place under mergeSchema — the
          // typeWidening feature: one metaData action records the
          // change (delta.typeChanges on the field), zero files
          // rewritten, old files read through the parquet reader's
          // native widening (int32→long etc., verified on Spark 4.1)
          val updatedShared = s.schema.map { f =>
            dfId.schema.find(_.name == f.name) match {
              case Some(bf) if bf.dataType == f.dataType => f
              case Some(bf) if isWidening(bf.dataType, f.dataType) => f // upcast batch
              case Some(bf) if isWidening(f.dataType, bf.dataType) =>
                require(mergeSchema,
                  s"append widens column ${f.name} from ${f.dataType.simpleString} " +
                    s"to ${bf.dataType.simpleString}; pass mergeSchema = true")
                widened = true
                f.copy(dataType = bf.dataType,
                  metadata = withTypeChange(f.metadata, f.dataType, bf.dataType, next))
              case Some(bf) =>
                throw new IllegalArgumentException(
                  s"column ${f.name}: ${bf.dataType} conflicts with table's ${f.dataType} " +
                    "and is not a supported widening")
              case None => f
            }
          }
          val extra = dfId.schema.filterNot(f => s.schema.exists(_.name == f.name))
          require(extra.isEmpty || mergeSchema,
            s"append adds columns ${extra.map(_.name).mkString(", ")}; pass mergeSchema = true")
          StructType(updatedShared ++
            extra.map(f => carryPhysical(f.copy(nullable = true), s.schema)))
        }
    }
    // conform the batch to the table's types (covers both the
    // narrower-batch upcast and exotic-but-equal metadata)
    val dfConformed = dfId.select(dfId.columns.map { c =>
      tableSchema.find(_.name == c) match {
        case Some(f) if dfId.schema(c).dataType != f.dataType =>
          col(c).cast(f.dataType).as(c)
        case _ => col(c)
      }
    }.toIndexedSeq: _*)
    val removedFiles: Seq[AddFile] =
      if (overwrite) prevSnap.map(_.files).getOrElse(Nil) else Nil

    val tableConfig = prevSnap.map(_.configuration).getOrElse(Map.empty)
    refuseIfAppendOnly(tableConfig, "overwrite (full-snapshot replace)",
      removesData = removedFiles.nonEmpty)
    enforceConstraints(dfConformed, tableConfig.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    })

    val adds = stageFiles(withNotNullGuards(dfConformed, tableSchema), table, fs,
      partCols, next, tableSchema)

    // identity high watermark advances with the commit's own metaData,
    // read from the staged files' FOOTER stats (no extra job): the
    // farthest assigned value in step direction
    val finalSchema: StructType =
      advanceIdentityWatermarks(tableSchema, adds, idFirstValue.toMap)

    val now = System.currentTimeMillis()
    val partColsJson = partCols.map(jsonStr).mkString("[", ",", "]")
    def metaLine = s"""{"metaData":{"id":${jsonStr(UUID.randomUUID().toString)},"format":{"provider":"parquet","options":{}},"schemaString":${jsonStr(finalSchema.json)},"partitionColumns":$partColsJson,"configuration":${configJson(tableConfig)},"createdTime":$now}}"""
    // a schema declaring generated/identity columns needs the writer
    // gate: legacy minWriter >= 4 / >= 6, or the matching feature on
    // a (x,7) table
    val baseProto = prevSnap.map(_.protocol).getOrElse(DefaultProtocol)
    val wantProto0 = writerGate(
      writerGate(baseProto, generationExpressions(finalSchema).nonEmpty, 4, "generatedColumns"),
      idFields.nonEmpty, 6, "identityColumns")
    // a widening commit needs the typeWidening READER-writer feature:
    // a reader ignoring it would decode old narrow pages under wrong
    // assumptions — gate exactly like deletionVectors
    val wantProto =
      if (!widened) wantProto0
      else protocolWith(wantProto0, "typeWidening", _ => false, finalSchema, tableConfig)
    val header =
      if (next == 0L) Seq(protocolLine(wantProto), metaLine)
      // schema changed (overwrite redefinition, mergeSchema append,
      // or an identity watermark advance): the commit carries the new
      // metaData, newest-wins on replay
      else (if (wantProto != baseProto) Seq(protocolLine(wantProto)) else Seq.empty) ++
        (if (prevSnap.exists(_.schema != finalSchema)) Seq(metaLine) else Seq.empty)
    // row tracking: fresh baseRowId ranges for this commit's adds,
    // watermark advanced in the same commit's domainMetadata (an
    // overwrite still only ever moves the watermark UP — row ids are
    // never reused, per the spec)
    val (addsRt, domainLines) = allocRowIds(tableConfig,
      prevSnap.map(_.domains).getOrElse(Map.empty), next, adds)
    val addLines = addsRt.map(a => addLine(a, now, dataChange = true))
    val removeLines = removedFiles.map(a => removeLine(a, now, dataChange = true))
    val txnLines = txn.toSeq.map { case (app, v) =>
      s"""{"txn":{"appId":${jsonStr(app)},"version":$v,"lastUpdated":$now}}"""
    }
    val committed = commitWithRetry(spark, fs, tablePath, next,
      header ++ txnLines ++ domainLines ++ removeLines ++ addLines,
      pureAppend = removedFiles.isEmpty && header.isEmpty, commitStore,
      ictKnown = Some(tableConfig.get("delta.enableInCommitTimestamps").contains("true")))
    maybeAutoCheckpoint(spark, tablePath, committed, tableConfig)
    committed
  }

  /** Honor `delta.checkpointInterval = N`: fold a checkpoint after
    * every Nth commit, bounding replay cost for all readers without
    * anyone scheduling maintenance. Only when the property is set —
    * explicit `checkpoint()` remains available either way. Failure
    * to checkpoint never fails the write (the commit is already
    * durable; the next interval hit retries). */
  private def maybeAutoCheckpoint(spark: SparkSession, tablePath: String,
                                  committed: Long, cfg: Map[String, String]): Unit =
    cfg.get("delta.checkpointInterval").flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ > 0).foreach { n =>
        if (committed > 0 && committed % n == 0)
          try checkpoint(spark, tablePath)
          catch { case scala.util.control.NonFatal(_) => () }
      }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES as a metaData-only commit:
    * the new configuration (merged `set`, minus `unset`) rides a
    * fresh metaData action — O(log) driver work, no data touched.
    * Newest-metaData-wins on replay, same as schema evolution.
    * Returns the committed version. */
  def setTableProperties(spark: SparkSession, tablePath: String,
                         set: Map[String, String],
                         unset: Seq[String] = Nil,
                         commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val cfg = (snap.configuration ++ set) -- unset
    val now = System.currentTimeMillis()
    val partColsJson = snap.partitionColumns.map(jsonStr).mkString("[", ",", "]")
    val metaLine = s"""{"metaData":{"id":${jsonStr(UUID.randomUUID().toString)},"format":{"provider":"parquet","options":{}},"schemaString":${jsonStr(snap.schema.json)},"partitionColumns":$partColsJson,"configuration":${configJson(cfg)},"createdTime":$now}}"""
    // a metadata change conflicts with everything, so a lost race aborts
    commitWithRetry(spark, fs, tablePath, snap.version + 1, Seq(metaLine),
      pureAppend = false, commitStore)
  }

  /** Turn on in-commit timestamps (`delta.enableInCommitTimestamps`):
    * from the enabling commit onward, each commit's authoritative
    * timestamp is the strictly-monotone `commitInfo.inCommitTimestamp`
    * it carries — not the log file's mtime, which object stores may
    * rewrite (copies, lifecycle transitions) and clocks may skew
    * backwards. `readDeltaAsOf` prefers the ICT wherever present.
    * The enabling commit records the enablement version/timestamp
    * properties and upgrades the writer protocol to (x,7) with the
    * inCommitTimestamp feature (enumerating the features the table
    * already uses, per the feature-listing rule). */
  def enableInCommitTimestamps(spark: SparkSession, tablePath: String,
                               commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    require(!snap.configuration.get("delta.enableInCommitTimestamps").contains("true"),
      s"in-commit timestamps already enabled on $tablePath")
    val v = snap.version + 1
    val cfg = snap.configuration ++ Map(
      "delta.enableInCommitTimestamps" -> "true",
      "delta.inCommitTimestampEnablementVersion" -> v.toString,
      "delta.inCommitTimestampEnablementTimestamp" ->
        System.currentTimeMillis().toString)
    val feats = Set("inCommitTimestamp") ++
      impliedWriterFeatures(snap.protocol, snap.schema, cfg)
    val proto =
      if (snap.protocol.minWriter >= 7)
        snap.protocol.copy(
          writerFeatures = snap.protocol.writerFeatures + "inCommitTimestamp")
      else Protocol(snap.protocol.minReader, 7,
        snap.protocol.readerFeatures, snap.protocol.writerFeatures ++ feats)
    commitMetadata(spark, tablePath, snap.schema, snap.partitionColumns, cfg,
      commitStore, Some(proto))
  }

  /** Switch row tracking ON: one commit sets the table property plus
    * the materialized-column names, upgrades the protocol to (x,7)
    * with `rowTracking` + `domainMetadata` (legacy-implied features
    * enumerated, as any (x,7) upgrade must), and BACKFILLS every live
    * file with a fresh baseRowId range — re-adds built from the log's
    * own numRecords stats, so enablement is metadata-only: zero data
    * files are opened or rewritten at any table size. */
  def enableRowTracking(spark: SparkSession, tablePath: String,
                        commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    require(!rowTrackingOn(snap.configuration),
      s"row tracking already enabled on $tablePath")
    val v = snap.version + 1
    val suffix = UUID.randomUUID().toString.take(8)
    val cfg = snap.configuration ++ Map(
      RowTrackingKey -> "true",
      MatRowIdColKey -> s"_row_id_col_$suffix",
      MatRowVerColKey -> s"_row_commit_version_col_$suffix")
    val feats = Set("rowTracking", "domainMetadata") ++
      impliedWriterFeatures(snap.protocol, snap.schema, cfg)
    val proto =
      if (snap.protocol.minWriter >= 7)
        snap.protocol.copy(writerFeatures =
          snap.protocol.writerFeatures ++ Set("rowTracking", "domainMetadata"))
      else Protocol(snap.protocol.minReader, 7,
        snap.protocol.readerFeatures, snap.protocol.writerFeatures ++ feats)
    val now = System.currentTimeMillis()
    val fsData = fsOf(spark, new Path(tablePath))
    var next = rowIdHighWaterMark(snap.domains) + 1
    val reAdds = snap.files.sortBy(_.path).map { a =>
      val n = parseStats(a.stats).flatMap(_.numRecords).getOrElse(
        throw new IllegalStateException(
          s"cannot backfill row ids for ${a.path}: its add action carries no " +
            "numRecords stats"))
      // resolve a missing size for real — re-adding size 0 would
      // break split planning on the next scan
      val sz = a.size.getOrElse(
        fsData.getFileStatus(dataPath(tablePath, a.path)).getLen)
      val line = reAddLine(a.copy(baseRowId = Some(next),
        defaultRowCommitVersion = Some(v)), sz, now, dataChange = false, a.dv)
      next += n
      line
    }
    val partColsJson = snap.partitionColumns.map(jsonStr).mkString("[", ",", "]")
    val metaLine = s"""{"metaData":{"id":${jsonStr(UUID.randomUUID().toString)},"format":{"provider":"parquet","options":{}},"schemaString":${jsonStr(snap.schema.json)},"partitionColumns":$partColsJson,"configuration":${configJson(cfg)},"createdTime":$now}}"""
    val fs = fsOf(spark, new Path(tablePath))
    commitWithRetry(spark, fs, tablePath, v,
      Seq(protocolLine(proto), metaLine, rowTrackingDomainLine(next - 1)) ++ reAdds,
      pureAppend = false, commitStore)
  }

  /** Read a row-tracking table WITH its stable row lineage: the
    * table's columns plus `_row_id` and `_row_commit_version`. A
    * row's id is its file's materialized row-id value when the file
    * carries one (rewrites — OPTIMIZE, clustering — stamp it so ids
    * survive reshuffling), else baseRowId + the row's physical
    * position; same rule for the commit version. Scale: the per-FILE
    * (baseRowId, version) map rides one model-sized broadcast join
    * keyed on the scan's `_metadata` file identity — never a
    * row-scale exchange; deletion vectors apply after, so a DV'd
    * row's id disappears with the row. */
  def readDeltaWithRowIds(spark: SparkSession, tablePath: String,
                          version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, version)
    require(rowTrackingOn(snap.configuration),
      s"row tracking is not enabled on $tablePath")
    if (snap.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(snap.schema :+ StructField("_row_id", LongType)
          :+ StructField("_row_commit_version", LongType)))
    else scanWithRowIds(spark, tablePath, snap, snap.files)
  }

  /** Scan `files` of a row-tracking snapshot with `_row_id` /
    * `_row_commit_version` resolved (materialized value first, file
    * default otherwise) and deletion vectors applied. `keepTags`
    * additionally keeps the `__graft_dv_file` / `__graft_dv_ri` scan
    * identity (for DML paths that stage deletion vectors next). */
  private def scanWithRowIds(spark: SparkSession, tablePath: String,
                             snap: Snapshot, files: Seq[AddFile],
                             keepTags: Boolean = false): DataFrame = {
    val matId = snap.configuration(MatRowIdColKey)
    val matVer = snap.configuration(MatRowVerColKey)
    val extra = Seq(StructField(matId, LongType), StructField(matVer, LongType))
    val base = scanRelationBase(spark, tablePath, snap.schema, snap.partitionColumns,
      files.map(a => (a, Map.empty[String, String])), extra)
    import spark.implicits._
    val fileMap = files.map { a =>
      (dataPath(tablePath, a.path).getName,
        a.baseRowId.getOrElse(throw new IllegalStateException(
          s"row-tracking table $tablePath has an add without baseRowId: ${a.path}")),
        a.defaultRowCommitVersion.getOrElse(-1L))
    }.toDF("__rt_file", "__rt_base", "__rt_ver")
    val tagged = withFileIdentity(base)
      .join(broadcast(fileMap), col("__graft_dv_file") === col("__rt_file"))
      .withColumn("_row_id",
        coalesce(col(matId), col("__rt_base") + col("__graft_dv_ri")))
      .withColumn("_row_commit_version", coalesce(col(matVer), col("__rt_ver")))
    val out = snap.schema.map(f => col(f.name)) ++
      Seq(col("_row_id"), col("_row_commit_version")) ++
      (if (keepTags) Seq(col("__graft_dv_file"), col("__graft_dv_ri")) else Nil)
    val withDv =
      if (files.forall(_.dv.isEmpty)) tagged
      else applyDv(spark, tablePath, tagged, files)
    withDv.select(out.toIndexedSeq: _*)
  }

  /** ADD CONSTRAINT <name> CHECK (<sqlExpr>): validates the EXISTING
    * table data first (one distributed scan; a constraint the
    * current rows already violate is refused, per Delta), then
    * commits the `delta.constraints.<name>` property. Every later
    * `writeDelta`/`mergeDelta` batch is checked before landing —
    * FALSE rows abort the write, NULL passes (SQL CHECK
    * semantics). */
  def addCheckConstraint(spark: SparkSession, tablePath: String,
                         name: String, sqlExpr: String,
                         commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    // gate BEFORE the validation scan: an unwritable table must refuse
    // without paying a distributed pass over its data
    requireWritable(snapshot(spark, tablePath, None).protocol, tablePath)
    val existingBad = readDelta(spark, tablePath)
      .where(!coalesce(expr(sqlExpr), lit(true))).limit(1).count()
    require(existingBad == 0,
      s"cannot add CHECK constraint $name ($sqlExpr): existing rows violate it")
    setTableProperties(spark, tablePath,
      Map(s"delta.constraints.$name" -> sqlExpr), Nil, commitStore)
  }

  /** DROP CONSTRAINT <name> (no-op error if absent). */
  def dropCheckConstraint(spark: SparkSession, tablePath: String, name: String,
                          commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val key = s"delta.constraints.$name"
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    require(snap.configuration.contains(key),
      s"no CHECK constraint named $name on $tablePath")
    setTableProperties(spark, tablePath, Map.empty, Seq(key), commitStore)
  }

  /** The protocol after requiring `feature` (reader+writer table
    * feature): (3,7) with the feature listed, merging any features
    * the current protocol already names. Legacy version gates that
    * imply the feature are honored without upgrade. */
  /** Writer-protocol gate for a feature with a legacy minWriter
    * version: no-op unless `present`; (x,7) tables list the feature,
    * legacy tables bump minWriter. */
  private def writerGate(p: Protocol, present: Boolean,
                         legacyMin: Int, feature: String): Protocol =
    if (!present) p
    else if (p.minWriter >= 7) p.copy(writerFeatures = p.writerFeatures + feature)
    else if (p.minWriter >= legacyMin) p
    else p.copy(minWriter = legacyMin)

  /** Writer features implied by a legacy (pre-table-features)
    * protocol PLUS the table's actual state — per the Delta
    * table-features rule, any upgrade to minWriter 7 must ENUMERATE
    * everything the legacy version numbers switched on implicitly;
    * an external writer honoring only the listed features would
    * otherwise stop enforcing the omitted invariants. */
  private def impliedWriterFeatures(p: Protocol, schema: StructType,
                                    cfg: Map[String, String]): Set[String] = {
    // A protocol already at minWriter 7 ENUMERATES its features —
    // nothing is version-implied, and re-deriving the full legacy
    // ladder from "7 >= n" would pollute the upgraded protocol with
    // features the table never used (external writers must implement
    // every listed feature, so over-listing breaks interop).
    val byVersion: Set[String] = if (p.minWriter >= 7) Set.empty else
      (if (p.minWriter >= 2) Set("appendOnly", "invariants") else Set.empty[String]) ++
      (if (p.minWriter >= 3) Set("checkConstraints") else Set.empty[String]) ++
      (if (p.minWriter >= 4) Set("changeDataFeed", "generatedColumns")
       else Set.empty[String]) ++
      (if (p.minWriter >= 5) Set("columnMapping") else Set.empty[String]) ++
      (if (p.minWriter >= 6) Set("identityColumns") else Set.empty[String])
    val byState: Set[String] =
      (if (cfg.get("delta.columnMapping.mode").contains("name")) Set("columnMapping")
       else Set.empty[String]) ++
      (if (generationExpressions(schema).nonEmpty) Set("generatedColumns")
       else Set.empty[String]) ++
      (if (identityFields(schema).nonEmpty) Set("identityColumns")
       else Set.empty[String]) ++
      (if (cfg.keys.exists(_.startsWith("delta.constraints."))) Set("checkConstraints")
       else Set.empty[String]) ++
      (if (cfg.get("delta.enableChangeDataFeed").contains("true")) Set("changeDataFeed")
       else Set.empty[String]) ++
      (if (cfg.get("delta.appendOnly").contains("true")) Set("appendOnly")
       else Set.empty[String]) ++
      (if (schema.exists(!_.nullable)) Set("invariants") else Set.empty[String]) ++
      (if (cfg.get("delta.enableInCommitTimestamps").contains("true"))
         Set("inCommitTimestamp") else Set.empty[String])
    byVersion ++ byState
  }

  private def protocolWith(cur: Protocol, feature: String,
                           legacyOk: Protocol => Boolean,
                           schema: StructType, cfg: Map[String, String]): Protocol =
    if (legacyOk(cur) || (cur.minReader >= 3 && cur.readerFeatures(feature))) cur
    else Protocol(3, 7,
      // legacy minReader 2 implied column mapping; a minReader-3
      // protocol already enumerates its reader features (merged via
      // cur.readerFeatures), so only the config can add it there
      cur.readerFeatures + feature ++
        (if (cur.minReader == 2 || cfg.get("delta.columnMapping.mode").contains("name"))
           Set("columnMapping") else Set.empty),
      cur.writerFeatures + feature ++ impliedWriterFeatures(cur, schema, cfg))

  private def commitMetadata(spark: SparkSession, tablePath: String,
                             schema: StructType, partitionColumns: Seq[String],
                             cfg: Map[String, String],
                             commitStore: CommitStore,
                             newProtocol: Option[Protocol] = None): Long = {
    val snap = snapshot(spark, tablePath, None)
    // the writer-feature gate guards METADATA commits too (the Delta
    // spec requires the check before ANY commit, not only data ones)
    requireWritable(snap.protocol, tablePath)
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val now = System.currentTimeMillis()
    val partColsJson = partitionColumns.map(jsonStr).mkString("[", ",", "]")
    val metaLine = s"""{"metaData":{"id":${jsonStr(UUID.randomUUID().toString)},"format":{"provider":"parquet","options":{}},"schemaString":${jsonStr(schema.json)},"partitionColumns":$partColsJson,"configuration":${configJson(cfg)},"createdTime":$now}}"""
    val protoLines = newProtocol.filter(_ != snap.protocol).map(protocolLine).toSeq
    commitWithRetry(spark, fs, tablePath, snap.version + 1, protoLines :+ metaLine,
      pureAppend = false, commitStore)
  }

  /** Turn on column mapping (`delta.columnMapping.mode = name`):
    * every field is stamped with its CURRENT name as the physical
    * name, so existing files keep matching; from here on, renames
    * and drops are metaData-only commits and new columns get fresh
    * `col-<uuid>` physical names. One O(log) commit, no data
    * touched. */
  def enableColumnMapping(spark: SparkSession, tablePath: String,
                          commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    require(!snap.configuration.get("delta.columnMapping.mode").contains("name"),
      s"column mapping already enabled on $tablePath")
    val newSchema = StructType(snap.schema.map(f => withPhysicalName(f, physicalName(f))))
    // protocol gate: legacy (2,5) implies column mapping; a (3,7)
    // table lists it as a feature instead
    val proto =
      if (snap.protocol.minReader >= 3)
        snap.protocol.copy(
          readerFeatures = snap.protocol.readerFeatures + "columnMapping",
          writerFeatures = snap.protocol.writerFeatures + "columnMapping")
      else if (snap.protocol.minReader >= 2 && snap.protocol.minWriter >= 5)
        snap.protocol
      else Protocol(2 max snap.protocol.minReader, 5 max snap.protocol.minWriter,
        snap.protocol.readerFeatures, snap.protocol.writerFeatures)
    commitMetadata(spark, tablePath, newSchema, snap.partitionColumns,
      snap.configuration + ("delta.columnMapping.mode" -> "name"), commitStore,
      Some(proto))
  }

  /** ALTER TABLE RENAME COLUMN — metaData-only under column mapping:
    * the logical name changes, the physical name (what the parquet
    * files and per-file stats are keyed by) stays, so ZERO data is
    * rewritten and data skipping keeps working on the renamed
    * column. Partition columns are refused (their names are baked
    * into the hive layout and the log's partitionValues keys). */
  def renameColumn(spark: SparkSession, tablePath: String,
                   oldName: String, newName: String,
                   commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    require(snap.configuration.get("delta.columnMapping.mode").contains("name"),
      s"renameColumn requires column mapping: call enableColumnMapping($tablePath) first")
    require(snap.schema.exists(_.name == oldName), s"no column $oldName")
    require(!snap.schema.exists(_.name == newName), s"column $newName already exists")
    require(!snap.partitionColumns.contains(oldName),
      s"partition column $oldName cannot be renamed")
    val newSchema = StructType(snap.schema.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    commitMetadata(spark, tablePath, newSchema, snap.partitionColumns,
      snap.configuration, commitStore)
  }

  /** ALTER TABLE DROP COLUMN — metaData-only under column mapping:
    * the field leaves the logical schema; the bytes stay in the
    * files (readers prune them) until the next rewrite. Re-adding
    * the same logical name later gets a FRESH physical column, so
    * the dropped values never resurrect. */
  def dropColumn(spark: SparkSession, tablePath: String, name: String,
                 commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    require(snap.configuration.get("delta.columnMapping.mode").contains("name"),
      s"dropColumn requires column mapping: call enableColumnMapping($tablePath) first")
    require(snap.schema.exists(_.name == name), s"no column $name")
    require(!snap.partitionColumns.contains(name),
      s"partition column $name cannot be dropped")
    require(snap.schema.size > 1, "cannot drop the last column")
    commitMetadata(spark, tablePath,
      StructType(snap.schema.filterNot(_.name == name)), snap.partitionColumns,
      snap.configuration, commitStore)
  }

  /** A staged-and-moved data file ready to commit. */
  private case class StagedAdd(relPath: String, size: Long,
                               partitionValues: Map[String, String],
                               stats: Option[String],
                               baseRowId: Option[Long] = None,
                               defaultRowCommitVersion: Option[Long] = None)

  private def rowIdJson(base: Option[Long], drcv: Option[Long]): String =
    base.map(b => s""","baseRowId":$b""").getOrElse("") +
      drcv.map(v => s""","defaultRowCommitVersion":$v""").getOrElse("")

  private def dvJson(d: Option[DvDesc]): String = d.map { dv =>
    val off = dv.offset.map(o => s""""offset":$o,""").getOrElse("")
    s""","deletionVector":{"storageType":${jsonStr(dv.storageType)},"pathOrInlineDv":${jsonStr(dv.pathOrInlineDv)},$off"sizeInBytes":${dv.sizeInBytes},"cardinality":${dv.cardinality}}"""
  }.getOrElse("")

  /** Re-emit an EXISTING add (path verbatim from the log — already
    * URL-encoded; addLine would double-encode it), optionally with a
    * replacement deletion-vector descriptor. */
  private def reAddLine(a: AddFile, sz: Long, now: Long, dataChange: Boolean,
                        dv: Option[DvDesc]): String = {
    val pvJson = a.partitionValues.map { case (k, v) =>
      s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}"
    }.mkString("{", ",", "}")
    val statsJson = a.stats.map(s => s""","stats":${jsonStr(s)}""").getOrElse("")
    s"""{"add":{"path":${jsonStr(a.path)},"partitionValues":$pvJson,"size":$sz,"modificationTime":$now,"dataChange":$dataChange$statsJson${dvJson(dv)}${rowIdJson(a.baseRowId, a.defaultRowCommitVersion)}}}"""
  }

  /** Remove action for a live AddFile. Carries `partitionValues`
    * (optional in the spec) so a CONCURRENT writer's logical
    * conflict check can prove partition disjointness against this
    * remove instead of aborting conservatively. */
  private def removeLine(a: AddFile, now: Long, dataChange: Boolean): String = {
    val pvJson = a.partitionValues.map { case (k, v) =>
      s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}"
    }.mkString("{", ",", "}")
    s"""{"remove":{"path":${jsonStr(a.path)},"deletionTimestamp":$now,"dataChange":$dataChange,"partitionValues":$pvJson}}"""
  }

  private def addLine(a: StagedAdd, now: Long, dataChange: Boolean): String = {
    val pvJson = a.partitionValues.map { case (k, v) =>
      s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}"
    }.mkString("{", ",", "}")
    val statsJson = a.stats.map(s => s""","stats":${jsonStr(s)}""").getOrElse("")
    s"""{"add":{"path":${jsonStr(encodeRelPath(a.relPath))},"partitionValues":$pvJson,"size":${a.size},"modificationTime":$now,"dataChange":$dataChange$statsJson${rowIdJson(a.baseRowId, a.defaultRowCommitVersion)}}}"""
  }

  /** Land `df`'s data files under a unique staging dir, then move
    * them into the table (a partitioned write stages the hive layout
    * and the moves keep it); per-file min/max/nullCount stats come
    * from the landed parquet FOOTERS (no data re-read). Files, hive
    * partition dirs and stats are all keyed by PHYSICAL column names
    * (identical to logical unless column mapping renamed fields);
    * `partCols` arrives logical and is mapped here. */
  private def stageFiles(df: DataFrame, table: Path, fs: FileSystem,
                         partCols: Seq[String], next: Long,
                         tableSchema: StructType): Seq[StagedAdd] = {
    val spark = df.sparkSession
    // rename the df's columns to physical; columns outside the table
    // schema (none in practice) pass through untouched
    val physDf = df.select(df.columns.map { c =>
      tableSchema.find(_.name == c)
        .map(f => col(c).as(physicalName(f))).getOrElse(col(c))
    }.toIndexedSeq: _*)
    val physPartCols = partCols.map(c => physicalName(tableSchema(c)))
    val dataSchema = StructType(
      tableSchema.filterNot(f => partCols.contains(f.name))
        .map(f => f.copy(name = physicalName(f))))
    val stage = new Path(table, s".stage-${UUID.randomUUID().toString.take(8)}")
    val w = physDf.write.mode("overwrite")
    (if (physPartCols.nonEmpty) w.partitionBy(physPartCols: _*) else w).parquet(stage.toString)
    // recursive listStatus walk (listFiles' LocatedFileStatus needs
    // local permission IO, which foreign wrapped schemes lack)
    val stageQ = fs.makeQualified(stage)
    def walk(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
      else Nil
    }
    val staged = walk(stageQ)
    val adds = staged.map { p =>
      // hive dir segments between stage root and file name carry the
      // partition values (Spark writes them ExternalCatalogUtils-escaped)
      val relDirs = {
        var segs = List.empty[String]
        var cur = p.getParent
        while (cur != null && fs.makeQualified(cur) != stageQ) {
          segs = cur.getName :: segs; cur = cur.getParent
        }
        segs
      }
      val pv: Map[String, String] = relDirs.map { seg =>
        val Array(k, v) = seg.split("=", 2)
        val dec = ExternalCatalogUtils.unescapePathName(v)
        k -> (if (dec == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else dec)
      }.toMap
      val name = s"part-$next-${UUID.randomUUID().toString}.parquet"
      val relPath = (relDirs :+ name).mkString("/")
      val dst = new Path(table, relPath)
      fs.mkdirs(dst.getParent)
      renameOrFail(fs, p, dst)
      StagedAdd(relPath, fs.getFileStatus(dst).getLen, pv,
        statsJsonFor(spark, dst, dataSchema))
    }
    fs.delete(stage, true)
    adds
  }

  /** Delta's optimistic-concurrency loop around the put-if-absent
    * commit: try version `first`; on losing the race, re-read the log
    * tail and either RETRY at the tail's next version — safe exactly
    * when this commit is a pure append (adds only, no metadata
    * change: fresh files are disjoint from everything a concurrent
    * writer did) and no interleaved commit changed metaData/protocol
    * (the append's schema assumption would be stale) — or ABORT with
    * `ConcurrentModificationException` when this commit removes files
    * or redefines metadata, because its read snapshot is now stale
    * and the caller must re-resolve (re-run the overwrite/merge).
    * This is the Delta protocol's winner/loser contract: two
    * non-conflicting appenders both land, at consecutive versions. */
  /** The `commitInfo.inCommitTimestamp` of commit `v`, if present
    * (first line of the commit JSON — the spec requires commitInfo
    * first when the feature is active). */
  private[sources] def inCommitTimestampOf(fs: FileSystem, logDir: Path,
                                           v: Long): Option[Long] =
    try {
      val p = new Path(logDir, f"$v%020d.json")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val first =
          try new java.io.BufferedReader(
            new java.io.InputStreamReader(in, StandardCharsets.UTF_8)).readLine()
          finally in.close()
        if (first == null) None
        else {
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(first)
          val t = node.path("commitInfo").path("inCommitTimestamp")
          if (t.isNumber) Some(t.asLong) else None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** What a non-pure-append transaction READ, for the logical
    * conflict check (the delta-io PROTOCOL.md ConflictChecker
    * semantics): a losing commit that can PROVE it commutes with
    * every interleaved winner rebases to the new tail instead of
    * aborting — the difference between "every maintenance commit
    * dies under a steady appender" and maintenance that lands.
    *
    *  - `readFiles`: the files this txn removes/rewrites — its hard
    *    dependency set; anyone else removing one of them aborts us.
    *  - `dataChange`: false for a pure layout swap (OPTIMIZE /
    *    ZORDER): it reads only `readFiles` and changes no rows, so
    *    concurrent APPENDS always commute with it.
    *  - `readPartitions`: Some(pvs) when the txn's read scope is
    *    provably bounded to those partitions (a partition-predicate
    *    DML); None = it read the whole table, so any interleaved
    *    data change aborts it.
    *  - `knownPartitions`: the partition universe at the read
    *    snapshot — an interleaved add in a partition born AFTER our
    *    snapshot can't be proven disjoint from a predicate we only
    *    evaluated against known partitions, so it aborts us. */
  private[sources] final case class CommitIntent(
      readFiles: Set[String],
      dataChange: Boolean,
      readPartitions: Option[Set[Map[String, String]]],
      knownPartitions: Set[Map[String, String]] = Set.empty)

  /** Throw unless OUR lost commit (described by `ci`) provably
    * commutes with interleaved commit `v`. Driver-side, one small
    * log read per interleaved version — the same cost class as the
    * pure-append metadata sniff below. */
  private def assertCommutes(fs: FileSystem, logDir: Path, tablePath: String,
                             v: Long, ci: CommitIntent): Unit = {
    def fail(why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"commit to $tablePath lost to concurrent version $v and cannot rebase: $why")
    val in = fs.open(new Path(logDir, f"$v%020d.json"))
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
               finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def pvOf(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
      val pvN = node.path("partitionValues")
      if (!pvN.isObject) Map.empty
      else {
        val it = pvN.fields(); val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
        }
        b.result()
      }
    }
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      val node = mapper.readTree(line)
      if (node.has("metaData") || node.has("protocol"))
        fail("it changes the table's metadata/protocol")
      val add = node.path("add")
      if (add.isObject && add.path("dataChange").asBoolean(false) && ci.dataChange) {
        // concurrent data landed; only a read scope provably disjoint
        // from it lets us keep our result
        ci.readPartitions match {
          case None => fail(s"it adds ${add.path("path").asText()} and this txn " +
            "read the whole table")
          case Some(rp) =>
            val pv = pvOf(add)
            if (rp.contains(pv))
              fail(s"it adds ${add.path("path").asText()} inside a partition this txn read")
            if (!ci.knownPartitions.contains(pv))
              fail(s"it adds ${add.path("path").asText()} in a partition born after " +
                "this txn's snapshot (disjointness unprovable)")
        }
      }
      val rem = node.path("remove")
      if (rem.isObject) {
        val path = rem.path("path").asText()
        if (ci.readFiles.contains(path))
          fail(s"it removed $path, which this txn read/rewrote")
        if (ci.dataChange && rem.path("dataChange").asBoolean(true)) {
          ci.readPartitions match {
            case None => fail(s"it removed $path and this txn read the whole table")
            case Some(rp) =>
              if (!rem.path("partitionValues").isObject)
                fail(s"it removed $path whose partition is not recorded " +
                  "(conservative abort)")
              val pv = pvOf(rem)
              if (rp.contains(pv) || !ci.knownPartitions.contains(pv))
                fail(s"it removed $path inside (or outside the known universe of) " +
                  "this txn's read scope")
          }
        }
      }
    }
  }

  /** Derive a condition-based DML's partition read scope for its
    * [[CommitIntent]]: when `condition` references ONLY partition
    * columns, the txn provably read just the matched partitions —
    * evaluated over the model-sized pv list, files never opened
    * (the replaceWhere victim machinery, generalized). Any other
    * predicate reads the whole table (None). Returns (scope,
    * knownPartitionUniverse); pv maps keyed by PHYSICAL names,
    * matching the log's add/remove actions. */
  private def partitionReadScope(spark: SparkSession, snap: Snapshot,
                                 condition: Column)
      : (Option[Set[Map[String, String]]], Set[Map[String, String]]) = {
    val known = snap.files.map(_.partitionValues).toSet
    if (snap.partitionColumns.isEmpty) return (None, known)
    val refs =
      try spark.createDataFrame(new java.util.ArrayList[Row](),
          StructType(snap.schema.fields))
        .where(condition).queryExecution.analyzed
        .expressions.flatMap(_.references).map(_.name).toSet
      catch { case scala.util.control.NonFatal(_) => return (None, known) }
    if (refs.isEmpty || !refs.subsetOf(snap.partitionColumns.toSet)) (None, known)
    else {
      val partFields = snap.partitionColumns.map(snap.schema(_))
      val pvSeq = known.toSeq
      val pvRows = pvSeq.zipWithIndex.map { case (pv, i) =>
        Row.fromSeq(i +: partFields.map { f =>
          pv.get(physicalName(f)).orNull match {
            case "__HIVE_DEFAULT_PARTITION__" => null
            case v => v
          }
        })
      }
      val pvSchema = StructType(StructField("__graft_pv_i", IntegerType) +:
        partFields.map(f => StructField(f.name, StringType)))
      val matchedIdx = spark
        .createDataFrame(spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema)
        .select(col("__graft_pv_i") +:
          partFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        .where(condition)
        .select(col("__graft_pv_i")).collect().map(_.getInt(0)).toSet
      (Some(matchedIdx.map(pvSeq)), known)
    }
  }

  /** `ictKnown`: Some(enabled) when the caller already read the table
    * config (saves the per-commit predecessor sniff — one fewer
    * object-store GET on every commit of a non-ICT table); None falls
    * back to detecting from this commit's own metaData line or the
    * previous commit's ICT. `intent` opts a non-pure-append commit
    * into the logical conflict check: a lost race REBASES when every
    * interleaved commit provably commutes ([[assertCommutes]]),
    * aborts otherwise. domainMetadata-carrying commits always abort
    * on a lost race regardless of intent (their allocated state —
    * row-id ranges, watermarks, clustering domains — is snapshot-
    * bound). */
  private def commitWithRetry(spark: SparkSession, fs: FileSystem, tablePath: String,
                              first: Long, lines: Seq[String], pureAppend: Boolean,
                              commitStore: CommitStore, maxAttempts: Int = 20,
                              ictKnown: Option[Boolean] = None,
                              intent: Option[CommitIntent] = None): Long = {
    val logDir = new Path(tablePath, "_delta_log")
    // in-commit timestamps: once the table property is on (detected
    // from this commit's own metaData line, or transitively from the
    // previous commit carrying an ICT), every commit leads with a
    // commitInfo whose inCommitTimestamp is strictly monotone —
    // wall-clock-skew-proof and object-store-mtime-proof. Recomputed
    // per retry attempt: a new predecessor means a new floor.
    val ictByLines = lines.exists(_.contains(
      "\"delta.enableInCommitTimestamps\":\"true\""))
    def withIct(attempt: Long): Seq[String] = {
      if (ictKnown.contains(false) && !ictByLines) return lines
      val prevIct =
        if (attempt == 0) None else inCommitTimestampOf(fs, logDir, attempt - 1)
      if (!ictByLines && prevIct.isEmpty && !ictKnown.contains(true)) lines
      else {
        val t = math.max(System.currentTimeMillis(),
          prevIct.map(_ + 1).getOrElse(Long.MinValue))
        s"""{"commitInfo":{"inCommitTimestamp":$t,"timestamp":$t}}""" +: lines
      }
    }
    var attempt = first
    var tries = 0
    while (tries < maxAttempts) {
      tries += 1
      try {
        commitStore.putIfAbsent(fs, new Path(logDir, f"$attempt%020d.json"),
          withIct(attempt).mkString("", "\n", "\n"))
        return attempt
      } catch {
        case e: Exception =>
          val latest = latestVersion(spark, tablePath).getOrElse(-1L)
          // the version we raced for is still absent: the store
          // failed for its own reasons — surface that, don't loop
          if (latest < attempt) throw e
          // a commit carrying domainMetadata (e.g. the rowTracking
          // high watermark) allocated state — row-id ranges, the
          // stamped defaultRowCommitVersion — from its read snapshot;
          // ANY lost race makes that stale, so abort instead of
          // silently re-landing colliding ids at a shifted version.
          // This outranks `intent`: commuting FILE sets don't make
          // allocated domain state fresh.
          if (lines.exists(_.contains("\"domainMetadata\"")))
            throw new java.util.ConcurrentModificationException(
              s"commit $attempt of $tablePath lost to a concurrent writer and carries " +
                s"domainMetadata allocated from a stale snapshot (row-id ranges / " +
                s"watermarks); re-run against version $latest")
          if (!pureAppend) intent match {
            case Some(ci) =>
              // logical conflict check: rebase over every interleaved
              // commit we provably commute with, abort on the first
              // we don't
              (attempt to latest).foreach(v =>
                assertCommutes(fs, logDir, tablePath, v, ci))
              attempt = latest + 1
            case None =>
              throw new java.util.ConcurrentModificationException(
                s"commit $attempt of $tablePath lost to a concurrent writer and is not a " +
                  s"pure append (it removes files or changes metadata); its read snapshot " +
                  s"is stale — re-run against version $latest")
          }
          else {
            val metaChanged = (attempt to latest).exists { v =>
              spark.read.schema(CheckpointSchema)
                .json(new Path(logDir, f"$v%020d.json").toString).collect()
                .exists(r => !r.isNullAt(r.fieldIndex("metaData")) ||
                  !r.isNullAt(r.fieldIndex("protocol")))
            }
            if (metaChanged)
              throw new java.util.ConcurrentModificationException(
                s"append to $tablePath lost to a concurrent METADATA change at or below " +
                  s"version $latest; re-validate the schema and retry")
            attempt = latest + 1
          }
      }
    }
    throw new IllegalStateException(
      s"gave up committing to $tablePath after $maxAttempts attempts (livelock?)")
  }

  /** Exactly-once foreachBatch sink into a Delta table: each
    * micro-batch appends under a `txn` action carrying (appId,
    * batchId), and a batch whose id is ≤ the table's recorded txn
    * version for that app is SKIPPED — so a restarted stream that
    * replays its last batch (the foreachBatch at-least-once
    * contract) commits it once. Usage:
    * `stream.writeStream.foreachBatch(DeltaSource.exactlyOnceBatchSink(table, appId) _)`.
    */
  def exactlyOnceBatchSink(tablePath: String, appId: String)
                          (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val exists = latestVersion(spark, tablePath).isDefined
    val done = if (exists) lastTxnVersion(spark, tablePath, appId) else None
    if (!done.exists(_ >= batchId))
      writeDelta(batch, tablePath, overwrite = false, txn = Some(appId -> batchId))
  }

  /** Fold the snapshot at the latest version into a checkpoint
    * parquet + `_last_checkpoint`, bounding future replay to commits
    * after it. The checkpoint carries the full action complement the
    * Delta spec requires — protocol + metaData + adds with their real
    * size/modificationTime — so external readers (delta-rs, Delta
    * Lake) can seed from it, not just graft's own replay. */
  def checkpoint(spark: SparkSession, tablePath: String): Long = {
    val v = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(s"not a Delta table: $tablePath"))
    val snap = snapshot(spark, tablePath, Some(v))
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    import spark.implicits._
    def nullCol(field: String) = lit(null).cast(CheckpointSchema(field).dataType).as(field)
    val addRows = snap.files
      .map(f => (f.path, f.partitionValues, f.size, f.modificationTime, f.stats,
        f.dv.map(_.storageType).orNull, f.dv.map(_.pathOrInlineDv).orNull,
        f.dv.flatMap(_.offset), f.dv.map(_.sizeInBytes).getOrElse(0),
        f.dv.map(_.cardinality).getOrElse(0L),
        f.baseRowId, f.defaultRowCommitVersion))
      .toDF("path", "partitionValues", "size", "modificationTime", "stats",
        "dvStorage", "dvPath", "dvOffset", "dvSize", "dvCard", "brid", "drcv")
      .select(struct(col("path"), col("partitionValues"), col("size"),
        col("modificationTime"), lit(true).as("dataChange"), col("stats"),
        // deletion vectors ride the checkpoint, so row-level deletes
        // survive log truncation past it
        when(col("dvPath").isNotNull,
          struct(col("dvStorage").as("storageType"), col("dvPath").as("pathOrInlineDv"),
            col("dvOffset").as("offset"), col("dvSize").as("sizeInBytes"),
            col("dvCard").as("cardinality"))).as("deletionVector"),
        // row-id assignments survive log truncation too
        col("brid").as("baseRowId"), col("drcv").as("defaultRowCommitVersion"))
        .cast(CheckpointSchema("add").dataType).as("add"),
        nullCol("remove"), nullCol("metaData"), nullCol("txn"), nullCol("protocol"),
        nullCol("domainMetadata"))
    val metaRow = Seq((snap.schema.json, snap.partitionColumns, snap.configuration))
      .toDF("s", "p", "cfg")
      .select(nullCol("add"), nullCol("remove"),
        struct(lit(UUID.randomUUID().toString).as("id"), col("s").as("schemaString"),
          col("p").as("partitionColumns"), col("cfg").as("configuration"))
          .cast(CheckpointSchema("metaData").dataType).as("metaData"),
        nullCol("txn"), nullCol("protocol"), nullCol("domainMetadata"))
    val p = snap.protocol
    val protocolRow = Seq((p.minReader, p.minWriter,
      p.readerFeatures.toSeq.sorted, p.writerFeatures.toSeq.sorted))
      .toDF("mr", "mw", "rf", "wf")
      .select(nullCol("add"), nullCol("remove"), nullCol("metaData"), nullCol("txn"),
        struct(col("mr").as("minReaderVersion"), col("mw").as("minWriterVersion"),
          when(col("mr") >= 3, col("rf")).as("readerFeatures"),
          when(col("mw") >= 7, col("wf")).as("writerFeatures"))
          .cast(CheckpointSchema("protocol").dataType).as("protocol"),
        nullCol("domainMetadata"))
    // latest txn per appId rides the checkpoint, so sink idempotency
    // survives log truncation past the checkpoint
    val txnRows = snap.txns.toSeq.sortBy(_._1) match {
      case Nil => None
      case ts => Some(ts.toDF("a", "v")
        .select(nullCol("add"), nullCol("remove"), nullCol("metaData"),
          struct(col("a").as("appId"), col("v").as("version")).as("txn"),
          nullCol("protocol"), nullCol("domainMetadata")))
    }
    // live domains (e.g. the rowTracking watermark) survive truncation
    val domainRows = snap.domains.toSeq.sortBy(_._1) match {
      case Nil => None
      case ds => Some(ds.toDF("d", "c")
        .select(nullCol("add"), nullCol("remove"), nullCol("metaData"), nullCol("txn"),
          nullCol("protocol"),
          struct(col("d").as("domain"), col("c").as("configuration"),
            lit(false).as("removed")).as("domainMetadata")))
    }
    val stage = new Path(tablePath, s".cpstage-${UUID.randomUUID().toString.take(8)}")
    (txnRows.toSeq ++ domainRows.toSeq)
      .foldLeft(protocolRow.unionByName(metaRow).unionByName(addRows))(_ unionByName _)
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).toSeq.map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    renameOrFail(fs, part, new Path(logDir, f"$v%020d.checkpoint.parquet"))
    fs.delete(stage, true)
    writeText(fs, new Path(logDir, "_last_checkpoint"),
      s"""{"version":$v,"size":${snap.files.size + 2 + snap.txns.size + snap.domains.size}}""")
    v
  }

  /** V2 checkpoint (the spec's `v2Checkpoint` reader-writer feature):
    * a UUID-named MANIFEST carries the table-wide actions (protocol,
    * metaData, txns, domains, checkpointMetadata) plus `sidecar`
    * pointers, and the file actions live in `_delta_log/_sidecars/`
    * parquet written FIRST — so a visible manifest always has its
    * sidecars. The metadata-scale story: at 100 TB the file list is
    * the big half of a checkpoint, and sidecars split it into
    * independently-readable (and independently-WRITABLE — one
    * distributed job, `sidecarFiles` ways) chunks instead of one
    * monolith. Upgrades the protocol first when the table lacks the
    * feature gate (one metadata commit). Returns the checkpointed
    * version. */
  def checkpointV2(spark: SparkSession, tablePath: String,
                   sidecarFiles: Int = 1,
                   commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    require(sidecarFiles >= 1, "need at least one sidecar")
    val pre = snapshot(spark, tablePath, None)
    if (!(pre.protocol.minReader >= 3 && pre.protocol.readerFeatures("v2Checkpoint"))) {
      val proto = protocolWith(pre.protocol, "v2Checkpoint", _ => false,
        pre.schema, pre.configuration)
      commitMetadata(spark, tablePath, pre.schema, pre.partitionColumns,
        pre.configuration, commitStore, Some(proto))
    }
    val v = latestVersion(spark, tablePath).get
    val snap = snapshot(spark, tablePath, Some(v))
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    import spark.implicits._
    val sidecarStruct = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val manifestSchema = StructType(CheckpointSchema.fields.toSeq ++ Seq(
      StructField("sidecar", sidecarStruct),
      StructField("checkpointMetadata",
        StructType(Seq(StructField("version", LongType))))))
    def nullCol(field: String) = lit(null).cast(manifestSchema(field).dataType).as(field)

    // 1. sidecars: every add action, landed before the manifest.
    //    Sidecar parquet carries just the `add` column — readers
    //    schema-merge the rest as null, same as a JSON commit line.
    val sidecarDir = new Path(logDir, "_sidecars")
    fs.mkdirs(sidecarDir)
    val addRows = snap.filesDf match {
      case Some(df) =>
        // metadata-scale path: sidecar rows come straight from the
        // DISTRIBUTED reconcile's surviving-adds frame, so a 10M-file
        // checkpoint write never holds the file list on the driver.
        // The struct is REBUILT (not passed through) so both branches
        // write identical sidecar rows: dataChange pinned true, DV
        // sub-fields null-normalized exactly as AddFile normalizes
        // them on the driver branch.
        df.select(struct(
          col("add.path").as("path"),
          col("add.partitionValues").as("partitionValues"),
          col("add.size").as("size"),
          col("add.modificationTime").as("modificationTime"),
          lit(true).as("dataChange"),
          col("add.stats").as("stats"),
          when(col("add.deletionVector.pathOrInlineDv").isNotNull, struct(
            col("add.deletionVector.storageType").as("storageType"),
            col("add.deletionVector.pathOrInlineDv").as("pathOrInlineDv"),
            col("add.deletionVector.offset").as("offset"),
            coalesce(col("add.deletionVector.sizeInBytes"), lit(0)).as("sizeInBytes"),
            coalesce(col("add.deletionVector.cardinality"), lit(0L)).as("cardinality")))
            .as("deletionVector"),
          col("add.baseRowId").as("baseRowId"),
          col("add.defaultRowCommitVersion").as("defaultRowCommitVersion"))
          .cast(CheckpointSchema("add").dataType).as("add"))
      case None => snap.files
        .map(f => (f.path, f.partitionValues, f.size, f.modificationTime, f.stats,
          f.dv.map(_.storageType).orNull, f.dv.map(_.pathOrInlineDv).orNull,
          f.dv.flatMap(_.offset), f.dv.map(_.sizeInBytes).getOrElse(0),
          f.dv.map(_.cardinality).getOrElse(0L),
          f.baseRowId, f.defaultRowCommitVersion))
        .toDF("path", "partitionValues", "size", "modificationTime", "stats",
          "dvStorage", "dvPath", "dvOffset", "dvSize", "dvCard", "brid", "drcv")
        .select(struct(col("path"), col("partitionValues"), col("size"),
          col("modificationTime"), lit(true).as("dataChange"), col("stats"),
          when(col("dvPath").isNotNull,
            struct(col("dvStorage").as("storageType"), col("dvPath").as("pathOrInlineDv"),
              col("dvOffset").as("offset"), col("dvSize").as("sizeInBytes"),
              col("dvCard").as("cardinality"))).as("deletionVector"),
          col("brid").as("baseRowId"), col("drcv").as("defaultRowCommitVersion"))
          .cast(CheckpointSchema("add").dataType).as("add"))
    }
    val stage = new Path(tablePath, s".cpv2stage-${UUID.randomUUID().toString.take(8)}")
    addRows.repartition(sidecarFiles).write.mode("overwrite").parquet(stage.toString)
    val sidecars = fs.listStatus(stage).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map { part =>
        val name = s"${UUID.randomUUID().toString}.parquet"
        val dst = new Path(sidecarDir, name)
        renameOrFail(fs, part, dst)
        val st = fs.getFileStatus(dst)
        (name, st.getLen, st.getModificationTime)
      }
    fs.delete(stage, true)

    // 2. the manifest: table-wide actions + sidecar pointers
    val p = snap.protocol
    val protocolRow = Seq((p.minReader, p.minWriter,
      p.readerFeatures.toSeq.sorted, p.writerFeatures.toSeq.sorted))
      .toDF("mr", "mw", "rf", "wf")
      .select(nullCol("add"), nullCol("remove"), nullCol("metaData"), nullCol("txn"),
        struct(col("mr").as("minReaderVersion"), col("mw").as("minWriterVersion"),
          when(col("mr") >= 3, col("rf")).as("readerFeatures"),
          when(col("mw") >= 7, col("wf")).as("writerFeatures"))
          .cast(manifestSchema("protocol").dataType).as("protocol"),
        nullCol("domainMetadata"), nullCol("sidecar"), nullCol("checkpointMetadata"))
    val metaRow = Seq((snap.schema.json, snap.partitionColumns, snap.configuration))
      .toDF("s", "pc", "cfg")
      .select(nullCol("add"), nullCol("remove"),
        struct(lit(UUID.randomUUID().toString).as("id"), col("s").as("schemaString"),
          col("pc").as("partitionColumns"), col("cfg").as("configuration"))
          .cast(manifestSchema("metaData").dataType).as("metaData"),
        nullCol("txn"), nullCol("protocol"), nullCol("domainMetadata"),
        nullCol("sidecar"), nullCol("checkpointMetadata"))
    val txnRows = snap.txns.toSeq.sortBy(_._1) match {
      case Nil => None
      case ts => Some(ts.toDF("a", "tv")
        .select(nullCol("add"), nullCol("remove"), nullCol("metaData"),
          struct(col("a").as("appId"), col("tv").as("version")).as("txn"),
          nullCol("protocol"), nullCol("domainMetadata"),
          nullCol("sidecar"), nullCol("checkpointMetadata")))
    }
    val domainRows = snap.domains.toSeq.sortBy(_._1) match {
      case Nil => None
      case ds => Some(ds.toDF("d", "c")
        .select(nullCol("add"), nullCol("remove"), nullCol("metaData"), nullCol("txn"),
          nullCol("protocol"),
          struct(col("d").as("domain"), col("c").as("configuration"),
            lit(false).as("removed")).as("domainMetadata"),
          nullCol("sidecar"), nullCol("checkpointMetadata")))
    }
    val sidecarRows = sidecars.toDF("sp", "sz", "mt")
      .select(nullCol("add"), nullCol("remove"), nullCol("metaData"), nullCol("txn"),
        nullCol("protocol"), nullCol("domainMetadata"),
        struct(col("sp").as("path"), col("sz").as("sizeInBytes"),
          col("mt").as("modificationTime")).as("sidecar"),
        nullCol("checkpointMetadata"))
    val cpMetaRow = Seq(v).toDF("cv")
      .select(nullCol("add"), nullCol("remove"), nullCol("metaData"), nullCol("txn"),
        nullCol("protocol"), nullCol("domainMetadata"), nullCol("sidecar"),
        struct(col("cv").as("version")).as("checkpointMetadata"))
    val mStage = new Path(tablePath, s".cpv2m-${UUID.randomUUID().toString.take(8)}")
    (txnRows.toSeq ++ domainRows.toSeq)
      .foldLeft(protocolRow.unionByName(metaRow).unionByName(sidecarRows)
        .unionByName(cpMetaRow))(_ unionByName _)
      .coalesce(1).write.mode("overwrite").parquet(mStage.toString)
    val mPart = fs.listStatus(mStage).toSeq.map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    renameOrFail(fs, mPart,
      new Path(logDir, f"$v%020d.checkpoint.${UUID.randomUUID().toString}.parquet"))
    fs.delete(mStage, true)
    writeText(fs, new Path(logDir, "_last_checkpoint"),
      s"""{"version":$v,"size":${snap.files.size + 3 + snap.txns.size + snap.domains.size + sidecars.size}}""")
    v
  }

  /** VACUUM: physically delete data files no longer referenced by
    * the LATEST snapshot and older than `retainMs` (mtime) — the
    * storage-reclaim command every overwrite-heavy zone eventually
    * needs. Consequences are the Delta-standard ones: time travel
    * and change-feed replay to versions whose files were vacuumed
    * stop working; the current snapshot is untouched. Staging and
    * log directories are never touched; absolute-URI (external)
    * add files are never deleted. Returns the deleted paths. */
  /** Table history, newest first: per commit its version,
    * authoritative timestamp (the commitInfo inCommitTimestamp when
    * stamped, the log file's mtime otherwise), and action counts —
    * the DESCRIBE HISTORY surface an operator reads before a
    * restore/time-travel. Driver-side O(commits) small reads; commits
    * truncated past a checkpoint no longer appear (their history is
    * folded). */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    val (commits, _) = logVersions(fs, logDir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import spark.implicits._
    commits.sorted(Ordering[Long].reverse).map { v =>
      val p = new Path(logDir, f"$v%020d.json")
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      var (adds, removes, cdcs, meta, proto, txns) = (0L, 0L, 0L, 0L, 0L, 0L)
      var ict: Option[Long] = None
      text.linesIterator.filter(_.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        if (n.path("add").isObject) adds += 1
        if (n.path("remove").isObject) removes += 1
        if (n.path("cdc").isObject) cdcs += 1
        if (n.path("metaData").isObject) meta += 1
        if (n.path("protocol").isObject) proto += 1
        if (n.path("txn").isObject) txns += 1
        val t = n.path("commitInfo").path("inCommitTimestamp")
        if (t.isNumber) ict = Some(t.asLong)
      }
      (v, ict.getOrElse(fs.getFileStatus(p).getModificationTime),
        adds, removes, cdcs, meta, proto, txns)
    }.toDF("version", "timestamp", "n_adds", "n_removes", "n_cdc",
      "n_metadata", "n_protocol", "n_txn")
  }

  /** Metadata-only table profile from the log's per-file stats:
    * per column the table-wide min/max (canonical string form) and
    * total null count, plus row/file accounting — ZERO data files
    * read, which at 100 TB is the difference between a profile that
    * runs in milliseconds and a full scan. Columns missing stats in
    * some file report `n_files_with_stats < n_files` and
    * conservative (possibly absent) bounds — never a wrong bound.
    * DV-marked rows are still counted in numRecords (physical
    * bounds, same contract as data skipping). */
  def statsProfile(spark: SparkSession, tablePath: String): DataFrame = {
    val snap = snapshot(spark, tablePath, None)
    val parsed = snap.files.map(a => parseStats(a.stats))
    val nFiles = snap.files.size.toLong
    val nRecords = parsed.flatMap(_.flatMap(_.numRecords)).sum
    import spark.implicits._
    snap.schema.map { f =>
      val phys = physicalName(f)
      // built lazily: non-orderable types (maps) never carry stats,
      // so the ordering must not be constructed for them
      lazy val ord = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(f.dataType).asInstanceOf[Ordering[Any]]
      def castS(raw: String): Any =
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(raw), StringType),
          f.dataType, Option("UTC")).eval(null)
      val perFile = parsed.flatten.map { st =>
        (st.minValues.get(phys), st.maxValues.get(phys), st.nullCount.get(phys))
      }
      val mins = perFile.flatMap(_._1).map(r => (r, castS(r))).filter(_._2 != null)
      val maxs = perFile.flatMap(_._2).map(r => (r, castS(r))).filter(_._2 != null)
      val withStats = perFile.count(t => t._1.nonEmpty || t._2.nonEmpty || t._3.nonEmpty)
      (f.name,
        if (mins.isEmpty) null else mins.minBy(_._2)(ord)._1,
        if (maxs.isEmpty) null else maxs.maxBy(_._2)(ord)._1,
        perFile.flatMap(_._3).sum,
        withStats.toLong, nFiles, nRecords)
    }.toDF("column", "min_value", "max_value", "null_count",
      "n_files_with_stats", "n_files", "n_records")
  }

  /** The log-side sibling of VACUUM (`delta.logRetentionDuration`
    * semantics): delete commit JSONs that are BOTH older than the
    * retention window AND folded into a checkpoint (strictly below
    * the newest checkpoint version — the replay path never needs
    * them; time travel to those versions expires with them, which is
    * exactly the retention contract). SUPERSEDED checkpoints older
    * than the window are deleted with their commits — a surviving
    * older checkpoint would otherwise invite time travel into the
    * cleaned range, which `snapshot`'s contiguity check now refuses
    * but is better not to offer at all. `_last_checkpoint` and every
    * file at or after the newest checkpoint survive regardless of
    * age. Returns the deleted commit versions. */
  private val CompactedRe = """(\d{20})\.(\d{20})\.compacted\.json""".r

  private def listCompactions(fs: FileSystem, logDir: Path): Seq[(Long, Long)] =
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq.filter(_.isFile).map(_.getPath.getName).collect {
      case CompactedRe(x, y) => (x.toLong, y.toLong)
    }

  /** Minor log compaction: reconcile each COMPLETE aligned run of
    * `every` commits into one `<x>.<y>.compacted.json` — per path the
    * newest add/remove survives (removes kept as tombstones, they
    * must still beat a checkpoint seeded below x), newest metaData /
    * protocol / per-app txn / per-domain domainMetadata, commitInfo
    * and change-data lines dropped (cdc readers replay original
    * commits, which compaction never deletes). Lines are copied
    * VERBATIM from the source commits — byte-lossless for fields
    * this reader doesn't model. Snapshot replay then reads
    * O(ranges + stragglers) files instead of O(commits) — the
    * metadata half of 100 TB scale, where millions of commits
    * accumulate between checkpoints. Returns the ranges written. */
  def compactLog(spark: SparkSession, tablePath: String,
                 every: Int = 10): Seq[(Long, Long)] = {
    require(every >= 2, "a compaction range needs at least 2 commits")
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    val (commits, _) = logVersions(fs, logDir)
    val existing = listCompactions(fs, logDir).toSet
    val ranges = commits.sorted.groupBy(_ / every).values.toSeq
      .filter(_.size == every)
      .map(g => (g.min, g.max))
      .filterNot(existing)
      .sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    ranges.map { case (x, y) =>
      val keep = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
      (x to y).foreach { v =>
        val p = new Path(logDir, f"$v%020d.json")
        val in = fs.open(p)
        val text = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          val key =
            if (node.has("add")) "p:" + node.path("add").path("path").asText()
            else if (node.has("remove")) "p:" + node.path("remove").path("path").asText()
            else if (node.has("metaData")) "meta"
            else if (node.has("protocol")) "proto"
            else if (node.has("txn")) "txn:" + node.path("txn").path("appId").asText()
            else if (node.has("domainMetadata"))
              "dom:" + node.path("domainMetadata").path("domain").asText()
            else null // commitInfo, cdc: per-commit payloads, not state
          if (key != null && keep.get(key).forall(_._1 <= v)) keep(key) = (v, line)
        }
      }
      writeText(fs, new Path(logDir, f"$x%020d.$y%020d.compacted.json"),
        keep.values.map(_._2).mkString("", "\n", "\n"))
      (x, y)
    }
  }

  def cleanupExpiredLogs(spark: SparkSession, tablePath: String,
                         retainMs: Long = 30L * 24 * 3600 * 1000): Seq[Long] = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    val (commits, checkpoints) = logVersions(fs, logDir)
    val newestCp = checkpoints.sorted.lastOption.getOrElse(return Nil)
    val cutoff = System.currentTimeMillis() - retainMs
    val doomed = commits.filter { v =>
      v < newestCp && {
        val p = new Path(logDir, f"$v%020d.json")
        fs.getFileStatus(p).getModificationTime < cutoff
      }
    }.sorted
    doomed.foreach(v => fs.delete(new Path(logDir, f"$v%020d.json"), false))
    // a superseded checkpoint may only go when NO surviving commit
    // still uses it as its replay seed — versions v with cp ≤ v <
    // (next surviving checkpoint) seed from cp, and deleting it
    // would break the contiguity contract for versions deliberately
    // RETAINED above it (their own JSONs are younger than the
    // window, but their seed would be gone)
    val (liveCommits, liveCps) = logVersions(fs, logDir)
    val cpsAsc = liveCps.sorted
    val deletableCps: Set[Long] = cpsAsc.filter(_ < newestCp).filter { cp =>
      val nextCp = cpsAsc.find(_ > cp).getOrElse(newestCp)
      !liveCommits.exists(v => v >= cp && v < nextCp)
    }.toSet
    // all parts of a multi-part checkpoint go together, and the
    // eligibility decision is per GROUP (every part past the cutoff)
    // so one young part keeps the whole set; if a delete still tears
    // a group mid-way (crash, transient fs error), the read side's
    // completeness check in logVersions ignores the torn remainder
    // rather than seeding from it
    // torn groups (versions logVersions refuses as seeds — crashed
    // multi-part attempts, half-deleted sets) are garbage once aged:
    // left alone they accumulate forever AND block a future complete
    // retry at the same version (the distinct-totals check would see
    // the stray part's conflicting count)
    val liveCpSet = liveCps.toSet
    fs.listStatus(logDir).toSeq.filter(_.isFile)
      .flatMap(s => CheckpointRe.findFirstMatchIn(s.getPath.getName)
        .map(m => (m.group(1).toLong, s)))
      .groupBy(_._1)
      .foreach { case (v, group) =>
        if ((deletableCps(v) || !liveCpSet(v)) &&
            group.forall(_._2.getModificationTime < cutoff))
          group.foreach { case (_, s) => fs.delete(s.getPath, false) }
      }
    // compacted ranges fully below the newest checkpoint are spent
    // (replay never starts below its seed) — GC once aged
    listCompactions(fs, logDir).foreach { case (x, y) =>
      val p = new Path(logDir, f"$x%020d.$y%020d.compacted.json")
      if (y < newestCp && fs.getFileStatus(p).getModificationTime < cutoff)
        fs.delete(p, false)
    }
    // v2 sidecar GC: a sidecar survives while ANY surviving manifest
    // references it; the reference scan is model-sized (one parquet
    // read per surviving manifest)
    val sidecarDir = new Path(logDir, "_sidecars")
    if (fs.exists(sidecarDir)) {
      val manifests = fs.listStatus(logDir).toSeq.filter(_.isFile)
        .filter(s => CheckpointV2Re.findFirstMatchIn(s.getPath.getName).nonEmpty)
        .map(_.getPath.toString)
      val referenced: Set[String] =
        if (manifests.isEmpty) Set.empty
        else {
          val sideOnly = StructType(Seq(StructField("sidecar", StructType(Seq(
            StructField("path", StringType))))))
          spark.read.schema(sideOnly).parquet(manifests: _*)
            .collect().flatMap { r =>
              if (r.isNullAt(0)) None else Option(r.getStruct(0).getAs[String]("path"))
            }.toSet
        }
      fs.listStatus(sidecarDir).toSeq.filter(_.isFile).foreach { s =>
        if (!referenced(s.getPath.getName) && s.getModificationTime < cutoff)
          fs.delete(s.getPath, false)
      }
    }
    doomed
  }

  def vacuum(spark: SparkSession, tablePath: String,
             retainMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    val active: Set[Path] = (snap.files
      .map(a => fs.makeQualified(dataPath(tablePath, a.path))) ++
      // deletion-vector sidecars referenced by live adds are part of
      // the snapshot: vacuuming one would resurrect deleted rows
      snap.files.flatMap(_.dv).flatMap(d => dvPath(tablePath, d))
        .map(fs.makeQualified)).toSet
    val cutoff = System.currentTimeMillis() - retainMs
    def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory) {
          // every engine staging dir is dot-prefixed (.stage-,
          // .cpstage-, .cpv2stage-, .cpv2m-, …) and data dirs never
          // are (hive `col=val` or bare) — skip the whole class so a
          // zero-retention vacuum racing an in-flight writer can
          // never delete staged parquet before its rename lands
          if (n == "_delta_log" || n.startsWith(".")) Nil
          else walk(s.getPath)
        } else if (n.endsWith(".parquet") || n.endsWith(".bin")) Seq(s)
        else Nil
      }
    val doomed = walk(table).filter { s =>
      !active.contains(fs.makeQualified(s.getPath)) && s.getModificationTime < cutoff
    }
    doomed.foreach(s => fs.delete(s.getPath, false))
    doomed.map(_.getPath.toString)
  }

  /** OPTIMIZE (bin-packing compaction): rewrite the current
    * snapshot's small files into files of ~`targetBytes`, committing
    * the swap with `dataChange = false` on every add/remove — the
    * log-level contract that this commit holds NO new data, so the
    * change feed skips it (commitAdds filters on dataChange) and a
    * streaming consumer's cursor can cross it silently. Partitioned
    * tables compact within each partition (hive layout preserved).
    * Returns (filesBefore, filesAfter). */
  def optimizeDelta(spark: SparkSession, tablePath: String,
                    targetBytes: Long = 128L * 1024 * 1024,
                    commitStore: CommitStore = CreateExclusiveCommitStore): (Int, Int) = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    // bin-pack per partition-values group; singleton bins are left
    // alone UNLESS the file carries a deletion vector — rewriting it
    // materializes the deletes and purges the DV (the REORG/PURGE
    // half of compaction)
    val groups = snap.files.groupBy(_.partitionValues)
    val rewrites = groups.toSeq.flatMap { case (pv, files) =>
      if (files.size <= 1 && !files.exists(_.dv.nonEmpty)) Nil
      else {
        val bins = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[AddFile]]()
        var cur = scala.collection.mutable.ArrayBuffer[AddFile]()
        var curBytes = 0L
        files.sortBy(_.path).foreach { f =>
          val sz = f.size.getOrElse(fs.getFileStatus(dataPath(tablePath, f.path)).getLen)
          if (cur.nonEmpty && curBytes + sz > targetBytes) {
            bins += cur; cur = scala.collection.mutable.ArrayBuffer[AddFile](); curBytes = 0L
          }
          cur += f; curBytes += sz
        }
        if (cur.nonEmpty) bins += cur
        bins.toSeq.filter(b => b.size > 1 || b.exists(_.dv.nonEmpty))
          .map(b => (pv, b.toSeq))
      }
    }
    if (rewrites.isEmpty) return (snap.files.size, snap.files.size)
    val next = latestVersion(spark, tablePath).get + 1
    val now = System.currentTimeMillis()
    val dataSchema =
      StructType(snap.schema.filterNot(f => snap.partitionColumns.contains(f.name)))
    val physDataSchema = StructType(dataSchema.map(f => f.copy(name = physicalName(f))))
    val tracking = rowTrackingOn(snap.configuration)
    val staged = rewrites.map { case (pv, bin) =>
      // one coalesced file per bin — read DV-AWARE (scanRelation
      // applies deletion vectors), so compaction materializes deletes
      // instead of resurrecting them; a raw parquet read here would
      // silently undo every DV'd delete under dataChange=false.
      // Written back under PHYSICAL names (column-mapping parity).
      // Under row tracking the rewrite MATERIALIZES each surviving
      // row's id and commit version into the configured physical
      // columns, so stable ids survive the reshuffle.
      val data =
        if (!tracking)
          scanRelation(spark, tablePath, snap.schema, snap.partitionColumns,
            bin.map(a => (a, Map.empty[String, String])))
            .select(dataSchema.map(f => col(f.name).as(physicalName(f))).toIndexedSeq: _*)
        else scanWithRowIds(spark, tablePath, snap, bin)
          .select((dataSchema.map(f => col(f.name).as(physicalName(f))) :+
            col("_row_id").as(snap.configuration(MatRowIdColKey)) :+
            col("_row_commit_version").as(snap.configuration(MatRowVerColKey)))
            .toIndexedSeq: _*)
      val relDirs = snap.partitionColumns.map { c =>
        val v = pv.getOrElse(c, null)
        s"$c=${if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
               else ExternalCatalogUtils.escapePathName(v)}"
      }
      val stage = new Path(table, s".stage-${UUID.randomUUID().toString.take(8)}")
      data.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = fs.listStatus(stage).toSeq.map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val name = s"part-$next-${UUID.randomUUID().toString}.parquet"
      val relPath = (relDirs :+ name).mkString("/")
      val dst = new Path(table, relPath)
      fs.mkdirs(dst.getParent)
      renameOrFail(fs, part, dst)
      fs.delete(stage, true)
      (StagedAdd(relPath, fs.getFileStatus(dst).getLen, pv,
        statsJsonFor(spark, dst, physDataSchema)),
        bin.map(a =>
          removeLine(a, now, dataChange = false)))
    }
    // rewritten files still get FRESH baseRowId ranges (the spec's
    // invariant: every add on a row-tracking table carries one); the
    // materialized per-row values take precedence on read
    val (addsRt, domainLines) = allocRowIds(snap.configuration, snap.domains,
      next, staged.map(_._1))
    val actions = staged.flatMap(_._2) ++
      addsRt.map(a => addLine(a, now, dataChange = false)) ++ domainLines
    // compaction reads only the files it rewrites and changes no
    // rows: a lost race REBASES over provably-commuting winners
    // (concurrent appends, disjoint swaps) and aborts only when one
    // touched a rewritten file or the metadata. (Row-tracking tables
    // carry domainMetadata here, which still aborts on any race.)
    commitWithRetry(spark, fs, tablePath, next, actions,
      pureAppend = false, commitStore,
      intent = Some(CommitIntent(
        rewrites.flatMap(_._2.map(_.path)).toSet, dataChange = false, None)))
    val after = snapshot(spark, tablePath, None).files.size
    (snap.files.size, after)
  }

  /** OPTIMIZE ZORDER BY — rewrite the table clustered on the Morton
    * interleave of two numeric columns into `nFiles` files, as a
    * `dataChange=false` swap commit (reads see the same rows before
    * and after; the change feed skips it). The rewritten files carry
    * TIGHT per-file min/max stats on BOTH dimensions, so
    * [[DeltaFileIndex]]'s data skipping prunes box predicates on
    * either column — the measured payoff of `pipe_zorder_skipping`
    * landed inside the Delta path itself.
    *
    * Scale: one range-shuffle of the table (repartitionByRange on the
    * z-value samples boundaries, so output files are balanced even
    * under skew), then a map-side sort per file. On a partitioned
    * table the clustering happens within each hive partition
    * (stageFiles re-splits by partition dirs). Returns
    * (filesBefore, filesAfter). */
  def optimizeZOrder(spark: SparkSession, tablePath: String,
                     zCols: (String, String), nFiles: Int = 8,
                     bits: Int = 16,
                     commitStore: CommitStore = CreateExclusiveCommitStore): (Int, Int) = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    if (snap.files.isEmpty) return (0, 0)
    val tracking = rowTrackingOn(snap.configuration)
    // a clustering rewrite reorders rows across files, so under row
    // tracking each row's id/version is MATERIALIZED into the file
    val cur =
      if (!tracking)
        scanRelation(spark, tablePath, snap.schema, snap.partitionColumns,
          snap.files.map(a => (a, Map.empty[String, String])))
      else scanWithRowIds(spark, tablePath, snap, snap.files)
        .withColumnRenamed("_row_id", snap.configuration(MatRowIdColKey))
        .withColumnRenamed("_row_commit_version", snap.configuration(MatRowVerColKey))
    val zc = graft.operators.Layout.zorderValue(
      col(zCols._1).cast("int"), col(zCols._2).cast("int"), bits)
    val clustered = cur.withColumn("__graft_z", zc)
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
    val next = snap.version + 1
    val adds = stageFiles(clustered, table, fs, snap.partitionColumns, next, snap.schema)
    val now = System.currentTimeMillis()
    val (addsRt, domainLines) = allocRowIds(snap.configuration, snap.domains, next, adds)
    val removeLines = snap.files.map(a =>
      removeLine(a, now, dataChange = false))
    val addLines = addsRt.map(a => addLine(a, now, dataChange = false))
    // a layout swap reads only the files it replaces: a lost race
    // rebases over commuting winners (pure appends), aborts when one
    // removed a replaced file or changed metadata (domainMetadata-
    // carrying variants still always abort)
    commitWithRetry(spark, fs, tablePath, next, removeLines ++ addLines ++ domainLines,
      pureAppend = false, commitStore,
      intent = Some(CommitIntent(
        snap.files.map(_.path).toSet, dataChange = false, None)))
    (snap.files.size, adds.size)
  }

  private[sources] val ClusteringDomain = "delta.clustering"

  /** The clustering columns a prior [[optimizeCluster]] recorded in
    * the table's `delta.clustering` domainMetadata (the spec's
    * clustered-table state) — Nil when the table was never clustered. */
  def clusteringColumnsOf(spark: SparkSession, tablePath: String): Seq[String] = {
    val snap = snapshot(spark, tablePath, None)
    snap.domains.get(ClusteringDomain).toSeq.flatMap { cfg =>
      """\["([^"\]]+)"\]""".r.findAllMatchIn(cfg).map(_.group(1)).toSeq
    }
  }

  /** OPTIMIZE CLUSTER BY — the liquid-clustering layout swap: rewrite
    * the table range-clustered on the HILBERT index of two numeric
    * columns (consecutive Hilbert cells are always grid neighbors, so
    * per-file bounding boxes are tighter than the Morton interleave's
    * quadrant-jumping ones) and record the clustering columns in the
    * spec's `delta.clustering` domainMetadata under the `clustering`
    * + `domainMetadata` writer features. Same dataChange=false swap
    * contract as [[optimizeZOrder]] (readers see identical rows, the
    * change feed skips it, row-tracking ids are materialized through
    * the rewrite).
    *
    * Scale: one range-shuffle of the table on the Hilbert value
    * (sampled boundaries — balanced output even under skew), then a
    * map-side sort per file; the curve value itself is a native
    * codegen'd expression in the scan stage. */
  def optimizeCluster(spark: SparkSession, tablePath: String,
                      clusterCols: (String, String), nFiles: Int,
                      bits: Int,
                      commitStore: CommitStore): (Int, Int) =
    optimizeClusterBy(spark, tablePath, Seq(clusterCols._1, clusterCols._2),
      nFiles, bits, commitStore)

  def optimizeCluster(spark: SparkSession, tablePath: String,
                      clusterCols: (String, String), nFiles: Int = 8,
                      bits: Int = 16): (Int, Int) =
    optimizeClusterBy(spark, tablePath, Seq(clusterCols._1, clusterCols._2),
      nFiles, bits, CreateExclusiveCommitStore)

  /** CLUSTER BY over 2-4 columns (liquid's column-count envelope):
    * the 2-D path keeps the spec-pinned xy2d curve; 3-4 columns ride
    * Skilling's N-dimensional transform — bits shrink with dimension
    * so the index stays a positive long with full per-level
    * resolution. */
  def optimizeClusterBy(spark: SparkSession, tablePath: String,
                        clusterCols: Seq[String], nFiles: Int = 8,
                        bits: Int = 16,
                        commitStore: CommitStore = CreateExclusiveCommitStore): (Int, Int) = {
    require(clusterCols.size >= 2 && clusterCols.size <= 4,
      s"CLUSTER BY takes 2-4 columns, got ${clusterCols.size}")
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    if (snap.files.isEmpty) return (0, 0)
    val tracking = rowTrackingOn(snap.configuration)
    val cur =
      if (!tracking)
        scanRelation(spark, tablePath, snap.schema, snap.partitionColumns,
          snap.files.map(a => (a, Map.empty[String, String])))
      else scanWithRowIds(spark, tablePath, snap, snap.files)
        .withColumnRenamed("_row_id", snap.configuration(MatRowIdColKey))
        .withColumnRenamed("_row_commit_version", snap.configuration(MatRowVerColKey))
    val effBits = math.min(bits, 62 / clusterCols.size)
    val hc =
      if (clusterCols.size == 2)
        graft.operators.Layout.hilbertValue(
          col(clusterCols.head), col(clusterCols(1)), effBits)
      else graft.operators.Layout.hilbertValueN(clusterCols.map(col), effBits)
    val clustered = cur.withColumn("__graft_h", hc)
      .repartitionByRange(nFiles, col("__graft_h"))
      .sortWithinPartitions("__graft_h")
      .drop("__graft_h")
    val next = snap.version + 1
    val adds = stageFiles(clustered, table, fs, snap.partitionColumns, next, snap.schema)
    val now = System.currentTimeMillis()
    val (addsRt, rtDomainLines) = allocRowIds(snap.configuration, snap.domains, next, adds)
    val clusterCfg = clusterCols.map(c => s"""["$c"]""")
      .mkString("""{"clusteringColumns":[""", ",", "]}")
    val clusterDomainLine =
      s"""{"domainMetadata":{"domain":${jsonStr(ClusteringDomain)},"configuration":${jsonStr(clusterCfg)},"removed":false}}"""
    val proto = {
      val p = snap.protocol
      val wanted = Set("clustering", "domainMetadata")
      if (p.minWriter >= 7) p.copy(writerFeatures = p.writerFeatures ++ wanted)
      else Protocol(p.minReader, 7, p.readerFeatures,
        p.writerFeatures ++ wanted ++
          impliedWriterFeatures(p, snap.schema, snap.configuration))
    }
    val protoLines = if (proto == snap.protocol) Nil else Seq(protocolLine(proto))
    val removeLines = snap.files.map(a =>
      removeLine(a, now, dataChange = false))
    val addLines = addsRt.map(a => addLine(a, now, dataChange = false))
    // CLUSTER BY always carries the delta.clustering domainMetadata,
    // so a lost race still aborts (the domain rule outranks intent);
    // the intent is recorded for the day the domain becomes
    // race-tolerant
    commitWithRetry(spark, fs, tablePath, next,
      protoLines ++ removeLines ++ addLines ++ rtDomainLines :+ clusterDomainLine,
      pureAppend = false, commitStore,
      intent = Some(CommitIntent(
        snap.files.map(_.path).toSet, dataChange = false, None)))
    (snap.files.size, adds.size)
  }

  /** Adds committed in version range (`afterVersion`, `toVersion`]
    * with dataChange=true, straight from the JSON commits. */
  private[sources] def commitAdds(spark: SparkSession, tablePath: String,
                         versions: Seq[Long]): Seq[(Long, AddFile)] =
    addsFrom(commitActionRows(spark, tablePath, versions))

  /** Per-commit LAYOUT rewrites among `versions`: the paths each
    * commit removed with an EXPLICIT dataChange=false and the files
    * it added with dataChange=false — OPTIMIZE / Z-order swaps,
    * content-preserving by contract. The streaming source uses these
    * to chase an in-range append whose file a later swap compacted
    * away before the range's end: the appended rows live on in the
    * swap's target files. A remove that omits dataChange counts as
    * dataChange=true (the spec default) so an external log's real
    * delete is never misread as a rewrite. */
  /** Each version's commit JSON parsed once — the shared substrate
    * for `addsFrom`/`rewritesFrom`, so a caller needing both (the
    * streaming source) pays ONE log read per commit, not two. */
  private[sources] def commitActionRows(spark: SparkSession, tablePath: String,
                         versions: Seq[Long]): Seq[(Long, Seq[org.apache.spark.sql.Row])] = {
    val logDir = new Path(tablePath, "_delta_log")
    versions.sorted.map { v =>
      v -> spark.read.schema(ActionSchema)
        .json(new Path(logDir, f"$v%020d.json").toString).collect().toSeq
    }
  }

  /** The dataChange=true adds among parsed commit rows. */
  private[sources] def addsFrom(
      rows: Seq[(Long, Seq[org.apache.spark.sql.Row])]): Seq[(Long, AddFile)] =
    rows.flatMap { case (v, rs) =>
      rs.filter(r => !r.isNullAt(r.fieldIndex("add")))
        .map(r => r.getStruct(r.fieldIndex("add")))
        .filter(a => a.getAs[Boolean]("dataChange"))
        .map(a => (v, rowToAdd(a)))
    }

  private[sources] def rewritesFrom(
      rows: Seq[(Long, Seq[org.apache.spark.sql.Row])]): Seq[(Long, Set[String], Seq[AddFile])] =
    rows.map { case (v, rs) =>
      def explicitFalse(s: org.apache.spark.sql.Row): Boolean = {
        val i = s.fieldIndex("dataChange")
        !s.isNullAt(i) && !s.getBoolean(i)
      }
      val removed = rs.filter(r => !r.isNullAt(r.fieldIndex("remove")))
        .map(r => r.getStruct(r.fieldIndex("remove")))
        .filter(explicitFalse)
        .map(_.getAs[String]("path")).toSet
      val added = rs.filter(r => !r.isNullAt(r.fieldIndex("add")))
        .map(r => r.getStruct(r.fieldIndex("add")))
        .filter(explicitFalse)
        .map(rowToAdd)
      (v, removed, added)
    }.filter { case (_, rm, ad) => rm.nonEmpty && ad.nonEmpty }

  /** The Delta log as an incremental change SOURCE over a real
    * `_delta_log` table: every commit after `cursor` contributes the
    * rows it ADDED, tagged with `_commit_version`. Consume, persist
    * the cursor, poll again — exactly-once per commit with a stored
    * long. All batches ride ONE scan relation: `_commit_version` is a
    * synthetic partition column in the [[DeltaFileIndex]], so a
    * version predicate prunes to that commit's files without touching
    * the rest of the feed.
    *
    * Append commits yield exactly the snapshot diff. A full-replace
    * (`overwrite = true`) commit yields its complete new snapshot —
    * consumers that upsert by key (e.g.
    * `StreamingPipeline.upsertSink`) absorb either shape;
    * removed-only rows are not replayed (the data files backing a
    * remove may already be vacuumed, same reason Delta's own CDF
    * materializes deletes separately). */
  def changesSince(spark: SparkSession, tablePath: String,
                   cursor: Option[Long]): (Option[Long], Option[DataFrame]) = {
    val logDir = new Path(tablePath, "_delta_log")
    val (commits, _) = logVersions(fsOf(spark, logDir), logDir)
    val newVs = commits.filter(v => cursor.forall(v > _))
    if (newVs.isEmpty) (cursor, None)
    else {
      val snap = snapshot(spark, tablePath, Some(newVs.max))
      val adds = commitAdds(spark, tablePath, newVs)
      if (adds.isEmpty) (Some(newVs.max), None)
      else {
        val schema = StructType(snap.schema :+ StructField("_commit_version", LongType))
        val feed = scanRelation(spark, tablePath, schema,
          snap.partitionColumns :+ "_commit_version",
          adds.map { case (v, a) => (a, Map("_commit_version" -> v.toString)) })
        (Some(newVs.max), Some(feed.orderBy(col("_commit_version"))))
      }
    }
  }

  /** Drain the Delta change feed commit-by-commit through a callback
    * — the foreachBatch shape with the commit version as the batch id
    * (restart-safe: re-running from the same stored cursor replays
    * exactly the unseen commits, in order). Composes with
    * `StreamingPipeline.upsertSink`-style consumers to tail a live
    * Delta zone. */
  def followChanges(spark: SparkSession, tablePath: String, cursor: Option[Long])
                   (f: (Long, DataFrame) => Unit): Option[Long] = {
    val logDir = new Path(tablePath, "_delta_log")
    val (commits, _) = logVersions(fsOf(spark, logDir), logDir)
    val newVs = commits.filter(v => cursor.forall(v > _))
    newVs.foreach { v =>
      val snap = snapshot(spark, tablePath, Some(v))
      val adds = commitAdds(spark, tablePath, Seq(v))
      val batch =
        if (adds.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
        else scanRelation(spark, tablePath, snap.schema, snap.partitionColumns,
          adds.map { case (_, a) => (a, Map.empty[String, String]) })
      f(v, batch)
    }
    newVs.lastOption.orElse(cursor)
  }

  // ---------------------------------------------------------------
  // Change Data Feed (delta.enableChangeDataFeed): materialized
  // per-row change files under _change_data/, referenced by cdc
  // actions — update pre/post images and deletes become readable
  // without diffing snapshots
  // ---------------------------------------------------------------

  private def cdfEnabled(cfg: Map[String, String]): Boolean =
    cfg.get("delta.enableChangeDataFeed").contains("true")

  private def cdcLine(relPath: String, pv: Map[String, String], size: Long): String = {
    val pvJson = pv.map { case (k, v) =>
      s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}"
    }.mkString("{", ",", "}")
    s"""{"cdc":{"path":${jsonStr(encodeRelPath(relPath))},"partitionValues":$pvJson,"size":$size,"dataChange":false}}"""
  }

  /** Land change rows (table columns + `_change_type`) under the
    * spec's `_change_data/` layout: files are hive-partitioned by
    * the TABLE's partition columns, partition values ride the cdc
    * action's `partitionValues` (not the file), and data columns are
    * stored under their physical names — the same staging contract
    * as the table's own add files, so an external CDF reader
    * consumes the feed like any partitioned scan. `_change_type`
    * stays in-file per the spec; `_commit_version`/`_commit_
    * timestamp` are derived by the reader from the commit, never
    * stored. Empty change sets stage nothing. */
  private def stageCdcFiles(changes: DataFrame, table: Path, fs: FileSystem,
                            tableSchema: StructType,
                            partCols: Seq[String]): Seq[(String, Map[String, String], Long)] = {
    // cache spans the emptiness probe AND the write — the pre/post
    // image join pipeline runs once, not twice
    val cached = changes.cache()
    try {
      if (cached.isEmpty) Nil
      else {
        val physDf = cached.select(cached.columns.map { c =>
          tableSchema.find(_.name == c)
            .map(f => col(c).as(physicalName(f))).getOrElse(col(c))
        }.toIndexedSeq: _*)
        val physPartCols = partCols.map(c => physicalName(tableSchema(c)))
        val stage = new Path(table, s".stage-${UUID.randomUUID().toString.take(8)}")
        val w = physDf.write.mode("overwrite")
        (if (physPartCols.nonEmpty) w.partitionBy(physPartCols: _*) else w)
          .parquet(stage.toString)
        fs.mkdirs(new Path(table, "_change_data"))
        val stageQ = fs.makeQualified(stage)
        def walk(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq.flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
          else Nil
        }
        val out = walk(stageQ).map { p =>
          val relDirs = {
            var segs = List.empty[String]
            var cur = p.getParent
            while (cur != null && fs.makeQualified(cur) != stageQ) {
              segs = cur.getName :: segs; cur = cur.getParent
            }
            segs
          }
          val pv: Map[String, String] = relDirs.map { seg =>
            val Array(k, v) = seg.split("=", 2)
            val dec = ExternalCatalogUtils.unescapePathName(v)
            k -> (if (dec == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else dec)
          }.toMap
          val rel = ("_change_data" +: relDirs :+
            s"cdc-${UUID.randomUUID().toString}.parquet").mkString("/")
          val dst = new Path(table, rel)
          fs.mkdirs(dst.getParent)
          renameOrFail(fs, p, dst)
          (rel, pv, fs.getFileStatus(dst).getLen)
        }
        fs.delete(stage, true)
        out
      }
    } finally cached.unpersist(false)
  }

  /** The change feed of commits AFTER `since` (all when None), as
    * (new cursor, feed): table columns + `_change_type`
    * (insert / update_preimage / update_postimage / delete) +
    * `_commit_version`. Commits carrying cdc actions (CDF-enabled
    * MERGE / DELETE) read their materialized change files — updates
    * arrive as true pre/post image pairs. Commits without cdc
    * actions DERIVE: dataChange adds replay as `insert` through the
    * normal scan relation, dataChange removes replay as `delete` by
    * scanning the removed files at their pre-commit snapshot state
    * (DV-applied, partition values restored) — the Delta-spec
    * derivation rule, so plain appends and overwrites feed changes
    * with zero write-side cost. dataChange=false layout swaps are
    * invisible.
    *
    * Driver cost: one small log read plus up to two snapshot replays
    * per commit in range — O(range × log) driver work, the same cost
    * class as `followChanges`; executors only ever touch the
    * commits' own files. Consume incrementally (the streaming
    * `readChangeFeed` path batches by commit ranges) rather than
    * re-reading a deep range repeatedly. */
  def changesCdf(spark: SparkSession, tablePath: String,
                 since: Option[Long],
                 until: Option[Long] = None): (Option[Long], Option[DataFrame]) = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = fsOf(spark, logDir)
    val (commits, _) = logVersions(fs, logDir)
    val newVs = commits
      .filter(v => since.forall(v > _) && until.forall(v <= _)).sorted
    if (newVs.isEmpty) return (since, None)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val feeds: Seq[DataFrame] = newVs.flatMap { v =>
      val snap = snapshot(spark, tablePath, Some(v))
      val outCols = snap.schema.map(f => col(f.name)) :+ col("_change_type")
      // driver-side parse of the (small) commit file: cdc paths,
      // dataChange add paths, dataChange remove paths
      val in = fs.open(new Path(logDir, f"$v%020d.json"))
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      var cdcFiles = List.empty[(String, Map[String, String])]
      var addPaths = Set.empty[String]
      var removePaths = Set.empty[String]
      text.linesIterator.filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        val cdc = node.path("cdc")
        val add = node.path("add")
        val rem = node.path("remove")
        if (cdc.isObject) {
          val pvNode = cdc.path("partitionValues")
          val pv = if (!pvNode.isObject) Map.empty[String, String]
            else {
              val it = pvNode.fields()
              val b = Map.newBuilder[String, String]
              while (it.hasNext) {
                val e = it.next()
                b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
              }
              b.result()
            }
          cdcFiles ::= (cdc.path("path").asText(), pv)
        }
        else if (add.isObject && add.path("dataChange").asBoolean(false))
          addPaths += add.path("path").asText()
        else if (rem.isObject && rem.path("dataChange").asBoolean(false))
          removePaths += rem.path("path").asText()
      }
      if (cdcFiles.nonEmpty) {
        // materialized change data speaks for the whole commit; the
        // files are hive-partitioned like the table's own adds, so
        // partition columns come back from the cdc actions'
        // partitionValues through the same indexed-scan path.
        // LEGACY gate: a partitioned table whose cdc action carries
        // no partitionValues was staged by the old layout (partition
        // columns in-file) — read those files directly, or their
        // partitions would come back NULL. An UNPARTITIONED
        // column-mapped table has no such marker (partitionValues is
        // legitimately empty), so old-layout files — written under
        // LOGICAL in-file names — are detected by probing the file's
        // parquet footer for a mapped column's logical name; the
        // modern physical-name scan would null them out silently.
        // The probe is a driver-side footer read per cdc file, and
        // only on mapped unpartitioned tables.
        val cdcSchema = StructType(snap.schema :+
          StructField("_change_type", StringType))
        val mappedProbe: Option[StructField] =
          if (snap.partitionColumns.nonEmpty) None
          else snap.schema.find(f => physicalName(f) != f.name)
        // cached per absolute file path: a written cdc file's layout
        // never changes, so each file pays the driver-side footer
        // probe ONCE per JVM — repeated changes() calls over mapped
        // unpartitioned tables stop re-running O(files) schema jobs
        def fileHasLogicalNames(rel: String): Boolean = mappedProbe.exists { f =>
          val p = dataPath(tablePath, rel).toString
          val key = s"$p#${f.name}#${physicalName(f)}"
          Boolean.unbox(legacyLayoutProbes.computeIfAbsent(key, _ => {
            val names = spark.read.parquet(p).schema.fieldNames.toSet
            Boolean.box(names.contains(f.name) && !names.contains(physicalName(f)))
          }))
        }
        val (legacy, modern) = cdcFiles.reverse.partition { case (p, pv) =>
          (snap.partitionColumns.nonEmpty && pv.isEmpty) ||
            (mappedProbe.nonEmpty && fileHasLogicalNames(p))
        }
        val modernDf =
          if (modern.isEmpty) None
          else Some(scanRelationBase(spark, tablePath, cdcSchema,
            snap.partitionColumns,
            modern.map { case (p, pv) => (AddFile(p, pv, None, None),
              Map.empty[String, String]) })
            .select(outCols: _*))
        val legacyDf =
          if (legacy.isEmpty) None
          else Some(spark.read
            .parquet(legacy.map(f => dataPath(tablePath, f._1).toString): _*)
            .select(outCols: _*))
        Some((modernDf.toSeq ++ legacyDf.toSeq).reduce(_ unionByName _)
          .withColumn("_commit_version", lit(v)))
      } else {
        // a path both removed and re-added in one commit (a DV
        // delete, a restore re-point) nets to its ROW-level diff;
        // disjoint paths derive directly
        val overlap = addPaths intersect removePaths
        val prev = if (v == 0) None else Some(snapshot(spark, tablePath, Some(v - 1)))
        def scanOf(s: Snapshot, paths: Set[String]) = {
          val fsel = s.files.filter(a => paths.contains(a.path))
          if (fsel.isEmpty) None
          else {
            val scanned = scanRelation(spark, tablePath, s.schema, s.partitionColumns,
              fsel.map(a => (a, Map.empty[String, String])))
            // project through the SCANNED version's schema into the
            // current one by PHYSICAL name — a commit that both
            // changes data and renames/drops a column (a column-
            // mapping alter batched with a write) must keep the feed
            // readable: renamed columns map across, columns absent
            // at the scanned version surface as nulls
            val byPhys = s.schema.map(f => physicalName(f) -> f.name).toMap
            Some(scanned.select(snap.schema.map { f =>
              byPhys.get(physicalName(f)) match {
                case Some(old) => col(old).cast(f.dataType).as(f.name)
                case None => lit(null).cast(f.dataType).as(f.name)
              }
            }.toIndexedSeq: _*))
          }
        }
        val inserts = scanOf(snap, addPaths -- overlap)
          .map(_.withColumn("_change_type", lit("insert")))
        val deletes = prev.flatMap(p => scanOf(p, removePaths -- overlap))
          .map(_.withColumn("_change_type", lit("delete")))
        val diffed = prev.flatMap { p =>
          (scanOf(p, overlap), scanOf(snap, overlap)) match {
            case (Some(old), Some(cur)) =>
              val gone = old.exceptAll(cur).withColumn("_change_type", lit("delete"))
              val born = cur.exceptAll(old).withColumn("_change_type", lit("insert"))
              Some(gone.unionByName(born))
            case (Some(old), None) =>
              Some(old.withColumn("_change_type", lit("delete")))
            case _ => None
          }
        }
        val both = inserts.toSeq ++ deletes.toSeq ++ diffed.toSeq
        if (both.isEmpty) None
        else Some(both.reduce(_ unionByName _)
          .select(outCols: _*).withColumn("_commit_version", lit(v)))
      }
    }
    (Some(newVs.max), feeds.reduceOption(_ unionByName _))
  }

  /** Delta-native MERGE (copy-on-write upsert): land `updates` into a
    * real `_delta_log` table as ONE commit of remove(touched files) +
    * add(rewritten files) — how a lakehouse actually maintains its
    * silver zone (semantics equal to `pipe_upsert`'s engine-portable
    * window form: rows matching on `keyCols` are replaced, the rest
    * inserted; `updates` carries at most one row per key).
    *
    * Only files PROVABLY holding a matching key are rewritten: the
    * touched set comes from one distributed semi-join of the current
    * snapshot (tagged with `input_file_name`) against the update
    * keys, collected as a ≤#files list — data never reaches the
    * driver. Untouched files ride along unchanged, partitionValues
    * preserved (survivor rows rewrite through the same hive staging
    * as `writeDelta`). Losing a commit race aborts with
    * `ConcurrentModificationException` (the touched-file set is
    * stale), per the Delta conflict rules. Returns the committed
    * version. */
  def mergeDelta(spark: SparkSession, tablePath: String, updates: DataFrame,
                 keyCols: Seq[String],
                 commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    keyCols.foreach(c => require(snap.schema.exists(_.name == c),
      s"key column $c not in table schema ${snap.schema.fieldNames.toSeq}"))
    // auto-maintained columns play by writeDelta's rules here too:
    // generated columns fill when omitted and refuse disagreement;
    // identity columns must NOT be supplied — matched rows keep their
    // existing ids, inserts get fresh ones above the watermark
    val genExprs = generationExpressions(snap.schema)
    val idFs = identityFields(snap.schema)
    val idNames = idFs.map(_.name).toSet
    keyCols.foreach(c => require(!idNames(c),
      s"cannot MERGE on identity column $c (GENERATED ALWAYS)"))
    idNames.foreach { n =>
      if (updates.columns.contains(n) &&
          updates.where(col(n).isNotNull).limit(1).count() > 0)
        throw new IllegalStateException(
          s"identity column $n is GENERATED ALWAYS; remove it from the merge " +
            "updates (nothing was committed)")
    }
    snap.schema.filterNot(f => idNames(f.name) ||
        (genExprs.contains(f.name) && !updates.columns.contains(f.name)))
      .foreach(f => require(updates.columns.contains(f.name),
        s"updates missing table column ${f.name} (merge does not evolve schema)"))
    val updFilled = genExprs.toSeq.sortBy(_._1).foldLeft(updates) { case (d, (name, e)) =>
      val dt = snap.schema(name).dataType
      if (!d.columns.contains(name))
        d.select(d.columns.map(col).toIndexedSeq :+ expr(e).cast(dt).as(name): _*)
      else {
        val bad = d.where(!(col(name) <=> expr(e).cast(dt))).limit(1).count()
        if (bad > 0) throw new IllegalStateException(
          s"generated column $name: supplied values disagree with its expression " +
            s"($e); nothing was committed")
        d
      }
    }
    val nonIdSchema = StructType(snap.schema.filterNot(f => idNames(f.name)))
    // round 15: the update set is consumed FOUR times below (the
    // touched-file semi-join, the survivor anti-join, the replaced
    // inner join, the insert anti-join) and callers routinely pass a
    // derived plan (pipe_delta_merge's updates re-derive the silver
    // zone) — materialize once. Updates are increment-sized by the
    // merge contract (≤ one row per key), the same localCheckpoint
    // idiom the graph index uses for its increments.
    val upd = updFilled.select(
      nonIdSchema.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
      .localCheckpoint(true)
    enforceConstraints(upd, snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    })
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)

    // file identity comes from the scan-level `_metadata` column
    // (projected before any DV anti-join — input_file_name() cannot
    // cross a join, and basenames are unique within a table)
    val filesArg = snap.files.map(a => (a, Map.empty[String, String]))
    val base = withFileIdentity(
      scanRelationBase(spark, tablePath, snap.schema, snap.partitionColumns, filesArg))
    val live = applyDv(spark, tablePath, base, snap.files)
    val touchedNames: Set[String] = live
      .join(upd.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
      .select(col("__graft_dv_file")).distinct()
      .collect().map(_.getString(0)).toSet
    val touched = snap.files.filter(a =>
      touchedNames.contains(dataPath(tablePath, a.path).getName))

    val idFirstValue = scala.collection.mutable.Map.empty[String, Long]
    val tracking = rowTrackingOn(snap.configuration)
    // under row tracking the copy-on-write rewrite MATERIALIZES the
    // old rows' stable ids: survivors and replaced rows keep theirs
    // (replaced ids travel key→id like identity columns); inserts get
    // fresh ids from the new files' baseRowId
    val matIdCols =
      if (tracking) Seq(col("_row_id").as(snap.configuration(MatRowIdColKey))) else Nil
    val oldTouched =
      if (touched.isEmpty) None
      else if (tracking) Some(scanWithRowIds(spark, tablePath, snap, touched))
      else Some(scanRelation(spark, tablePath, snap.schema, snap.partitionColumns,
        touched.map(a => (a, Map.empty[String, String]))))
    val updKeysDf = upd.select(keyCols.map(col): _*).distinct()
    val fullCols = snap.schema.map(f => col(f.name)).toIndexedSeq
    // the three merge pieces, all carrying the FULL table schema:
    //  - survivors: touched-file rows whose key was not updated
    //  - replaced:  update rows for existing keys — identity columns
    //    come from the OLD row (joined back by key), never reassigned
    //  - inserts:   update rows for never-seen keys — identity
    //    columns assigned fresh above the watermark
    val survivors = oldTouched.map(
      _.join(updKeysDf, keyCols, "left_anti").select(fullCols ++ matIdCols: _*))
    val matchedKeyIds = oldTouched.map(
      _.select((keyCols ++ idNames.toSeq.sorted).map(col) ++
        (if (tracking) Seq(col("_row_id")) else Nil): _*).distinct())
    val replaced = matchedKeyIds.map(mi =>
      upd.join(mi, keyCols, "inner").select(fullCols ++ matIdCols: _*))
    val insertsNoId = matchedKeyIds match {
      case Some(mi) =>
        upd.join(mi.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      case None => upd
    }
    val inserts = idFs.sortBy(_.name).foldLeft(insertsNoId) { case (d, pf) =>
      val step = pf.metadata.getLong(IdStepKey)
      val watermark =
        if (pf.metadata.contains(IdWatermarkKey)) pf.metadata.getLong(IdWatermarkKey)
        else pf.metadata.getLong(IdStartKey) - step
      idFirstValue(pf.name) = watermark + step
      assignIdentity(d, pf, watermark + step, step)
    }.select(fullCols ++ matIdCols.map(_ =>
      lit(null).cast(LongType).as(snap.configuration(MatRowIdColKey))): _*)
    val newData: DataFrame =
      (survivors.toSeq ++ replaced.toSeq :+ inserts).reduce(_ unionByName _)

    refuseIfAppendOnly(snap.configuration, "MERGE over existing keys",
      removesData = touched.nonEmpty)
    val next = snap.version + 1
    val adds = stageFiles(withNotNullGuards(newData, snap.schema), table, fs,
      snap.partitionColumns, next, snap.schema)
    // identity watermark advances with this commit's own metaData
    val mergedSchema = advanceIdentityWatermarks(snap.schema, adds, idFirstValue.toMap)
    // CDF: materialize this merge's row-level changes — old values of
    // matched keys (preimage), their replacements (postimage), and
    // the never-seen keys (insert) — built from the SAME pieces the
    // landed data came from, so cdc ids match the zone's
    val cdcAdds: Seq[(String, Map[String, String], Long)] =
      if (!cdfEnabled(snap.configuration)) Nil
      else {
        val outCols = fullCols :+ col("_change_type")
        val pre = oldTouched.map(_.join(updKeysDf, keyCols, "left_semi")
          .withColumn("_change_type", lit("update_preimage")))
        val post = replaced.map(_.withColumn("_change_type", lit("update_postimage")))
        val changes = (pre.toSeq ++ post.toSeq :+
          inserts.withColumn("_change_type", lit("insert")))
          .map(_.select(outCols: _*)).reduce(_ unionByName _)
        stageCdcFiles(changes, table, fs, snap.schema, snap.partitionColumns)
      }
    val cdfProto = writerGate(snap.protocol, cdcAdds.nonEmpty, 4, "changeDataFeed")
    val protoLines =
      if (cdfProto == snap.protocol) Nil else Seq(protocolLine(cdfProto))
    val now = System.currentTimeMillis()
    val metaLines =
      if (mergedSchema == snap.schema) Nil
      else {
        val partColsJson = snap.partitionColumns.map(jsonStr).mkString("[", ",", "]")
        Seq(s"""{"metaData":{"id":${jsonStr(UUID.randomUUID().toString)},"format":{"provider":"parquet","options":{}},"schemaString":${jsonStr(mergedSchema.json)},"partitionColumns":$partColsJson,"configuration":${configJson(snap.configuration)},"createdTime":$now}}""")
      }
    val removeLines = touched.map(a =>
      removeLine(a, now, dataChange = true))
    val (addsRt, domainLines) = allocRowIds(snap.configuration, snap.domains, next, adds)
    val addLines = addsRt.map(a => addLine(a, now, dataChange = true))
    val cdcLines = cdcAdds.map { case (rel, pv, sz) => cdcLine(rel, pv, sz) }
    // MERGE reads the whole table (the touched-file semi-join), so a
    // lost race rebases only over winners that provably changed no
    // data this merge could have seen — pure layout swaps not
    // touching a rewritten file; anything else aborts
    val committed = commitWithRetry(spark, fs, tablePath, next,
      protoLines ++ metaLines ++ removeLines ++ addLines ++ domainLines ++ cdcLines,
      pureAppend = touched.isEmpty && protoLines.isEmpty && metaLines.isEmpty, commitStore,
      ictKnown = Some(snap.configuration.get("delta.enableInCommitTimestamps").contains("true")),
      intent = Some(CommitIntent(touched.map(_.path).toSet, dataChange = true,
        readPartitions = None)))
    maybeAutoCheckpoint(spark, tablePath, committed, snap.configuration)
    committed
  }

  /** Merge-on-read DELETE via deletion vectors: mark the rows
    * matching `condition` deleted WITHOUT rewriting any data file —
    * the write cost is O(deleted rows), not O(touched files' bytes),
    * which is why every modern lakehouse routes point/GDPR deletes
    * through DVs instead of copy-on-write. One commit per call:
    * remove+re-add of each file holding a matched row, the re-add
    * carrying a deletionVector descriptor whose sidecar packs this
    * commit's (file, row_index) pairs; a file whose EVERY live row
    * matched (proven by stats numRecords) is dropped outright. A
    * second delete UNIONS into a fresh sidecar (descriptor
    * replacement, old sidecars become garbage for VACUUM once
    * unreferenced). Reads apply DVs via a broadcast anti-join on
    * (file, row_index); OPTIMIZE materializes deletes and purges
    * descriptors. Stats on a DV'd file stay the PHYSICAL bounds —
    * loose for data skipping (conservative, never wrong), exact for
    * numRecords accounting.
    *
    * Scale: matching runs as one distributed scan over the current
    * snapshot (DV-applied, so already-deleted rows can't re-match);
    * the driver sees only per-file counts (≤ #files rows). Rows
    * matched already deleted → no-op, no commit. Losing the commit
    * race aborts (the file set is stale), per the Delta conflict
    * rules for anything that removes files. Returns the committed
    * (or, for a no-op, current) version. */
  def deleteDelta(spark: SparkSession, tablePath: String, condition: Column,
                  commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    refuseIfAppendOnly(snap.configuration, "DELETE", removesData = true)
    if (snap.files.isEmpty) return snap.version
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val filesArg = snap.files.map(a => (a, Map.empty[String, String]))
    val base = withFileIdentity(
      scanRelationBase(spark, tablePath, snap.schema, snap.partitionColumns, filesArg))
    val live = applyDv(spark, tablePath, base, snap.files)
    // Evaluate `condition` exactly ONCE: the matched row set feeds
    // BOTH the new deletion vectors and the CDF delete rows, and is
    // pinned by an eager localCheckpoint so a non-deterministic
    // condition (e.g. a rand()-based sampling delete) cannot commit
    // change-data rows inconsistent with the vectors written.
    // O(matched rows this commit) executor-local storage.
    val matchedRows = live.where(condition)
      .select((snap.schema.map(f => col(f.name)) ++
        Seq(col("__graft_dv_file"), col("__graft_dv_ri"))).toIndexedSeq: _*)
      .localCheckpoint(true)
    val now = System.currentTimeMillis()
    val staged = stageDvRemoval(spark, tablePath, fs, snap, matchedRows, now)
    if (staged.isEmpty) return snap.version
    val (removeLines, addLines, anyKept, affectedFiles) = staged.get
    // the first DV descriptor gates the protocol up to (3,7) with the
    // deletionVectors feature IN THE SAME COMMIT — an external reader
    // that would ignore DVs (and resurrect rows) must refuse instead
    // CDF: the deleted rows themselves, full values, read back from
    // the SAME pinned row set the vectors came from
    val cdcAdds: Seq[(String, Map[String, String], Long)] =
      if (!cdfEnabled(snap.configuration)) Nil
      else stageCdcFiles(
        matchedRows
          .select(snap.schema.map(f => col(f.name)).toIndexedSeq: _*)
          .withColumn("_change_type", lit("delete")),
        table, fs, snap.schema, snap.partitionColumns)
    val protoLines = {
      val dvProto =
        if (!anyKept) snap.protocol
        else protocolWith(snap.protocol, "deletionVectors", _ => false,
          snap.schema, snap.configuration)
      val proto = writerGate(dvProto, cdcAdds.nonEmpty, 4, "changeDataFeed")
      if (proto == snap.protocol) Nil else Seq(protocolLine(proto))
    }
    val cdcLines = cdcAdds.map { case (rel, pv, sz) => cdcLine(rel, pv, sz) }
    // a partition-predicate DELETE's read scope is just the matched
    // partitions: it rebases over appends/DML landing in DISJOINT
    // partitions; an arbitrary predicate read the whole table and
    // rebases only over pure layout swaps of untouched files
    val (delScope, delKnown) = partitionReadScope(spark, snap, condition)
    val committed = commitWithRetry(spark, fs, tablePath, snap.version + 1,
      protoLines ++ removeLines ++ addLines ++ cdcLines,
      pureAppend = false, commitStore,
      ictKnown = Some(snap.configuration.get("delta.enableInCommitTimestamps").contains("true")),
      intent = Some(CommitIntent(affectedFiles.map(_.path).toSet, dataChange = true,
        delScope, delKnown)))
    maybeAutoCheckpoint(spark, tablePath, committed, snap.configuration)
    committed
  }

  /** Stage the merge-on-read removal of `matchedRows` (rows carrying
    * `__graft_dv_file`/`__graft_dv_ri` scan identity): per-file fresh
    * bitmaps are built DISTRIBUTED — the matched rows shuffle ONCE on
    * their file key and stream into a roaring bitmap per file, so
    * only the COMPRESSED bitmap bytes reach the driver (O(files ×
    * compressed bits), never raw row pairs). Each fresh bitmap unions
    * with its file's existing vector (the re-add's descriptor
    * replaces the old one wholesale); a file whose EVERY live row
    * matched (proven by stats numRecords) is dropped outright; the
    * kept files' bitmaps pack into ONE spec-format .bin sidecar
    * (immutable; superseded sidecars become VACUUM garbage). Returns
    * None when no row matched, else (removeLines, dv-re-add lines,
    * anyKept) where anyKept=true means the commit must carry the
    * deletionVectors protocol gate. Shared by DELETE and UPDATE —
    * both mark old rows through vectors instead of rewriting files. */
  private def stageDvRemoval(spark: SparkSession, tablePath: String, fs: FileSystem,
                             snap: Snapshot, matchedRows: DataFrame, now: Long)
      : Option[(Seq[String], Seq[String], Boolean, Seq[AddFile])] = {
    import spark.implicits._
    val table = new Path(tablePath)
    val fresh: Map[String, Array[Byte]] = matchedRows
      .select(col("__graft_dv_file").as("f"), col("__graft_dv_ri").as("ri"))
      .repartition(col("f")).sortWithinPartitions("f", "ri")
      .as[(String, Long)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
        var cur: String = null
        var bm: Roaring64NavigableMap = null
        it.foreach { case (f, ri) =>
          if (f != cur) {
            if (cur != null) out += cur -> DeletionVectors.serializeBitmap(bm)
            cur = f
            bm = DeletionVectors.emptyBitmap()
          }
          bm.addLong(ri)
        }
        if (cur != null) out += cur -> DeletionVectors.serializeBitmap(bm)
        out.iterator
      }.collect().toMap
    if (fresh.isEmpty) return None
    def nameOf(a: AddFile): String = dataPath(tablePath, a.path).getName
    val affected = snap.files.filter(a => fresh.contains(nameOf(a)))
    val merged: Map[String, Roaring64NavigableMap] = affected.map { a =>
      val bm = DeletionVectors.deserializeBitmap(fresh(nameOf(a)))
      a.dv.foreach { d =>
        bm.or(DeletionVectors.deserializeBitmap(dvBlobBytes(fs, tablePath, d)))
      }
      nameOf(a) -> bm
    }.toMap
    val newCard: Map[String, Long] =
      merged.map { case (k, v) => k -> v.getLongCardinality }
    // full-file deletion is only PROVEN when stats carry numRecords
    val dropped: Set[String] = affected.filter { a =>
      parseStats(a.stats).flatMap(_.numRecords).contains(newCard(nameOf(a)))
    }.map(nameOf).toSet
    val kept = affected.filterNot(a => dropped(nameOf(a)))
    val keptDescs: Map[String, DvDesc] =
      if (kept.isEmpty) Map.empty
      else {
        val uuid = UUID.randomUUID()
        val blobs = kept.map(a => DeletionVectors.serializeBitmap(merged(nameOf(a))))
        val offsets = DeletionVectors.writeSidecar(
          fs, new Path(table, s"deletion_vector_$uuid.bin"), blobs)
        kept.lazyZip(blobs).lazyZip(offsets).map { (a, blob, off) =>
          nameOf(a) -> DvDesc("u", DeletionVectors.encodeUUID(uuid),
            Some(off), blob.length, newCard(nameOf(a)))
        }.toMap
      }
    // removes precede the same-path re-adds in the commit: replay
    // folds actions in line order, newest-per-path wins within a
    // version, so the re-add (with its DV) survives
    val removeLines = affected.map(a =>
      removeLine(a, now, dataChange = true))
    val addLines = kept.map { a =>
      val sz = a.size.getOrElse(fs.getFileStatus(dataPath(tablePath, a.path)).getLen)
      reAddLine(a, sz, now, dataChange = true, Some(keptDescs(nameOf(a))))
    }
    Some((removeLines, addLines, kept.nonEmpty, affected))
  }

  /** Merge-on-read UPDATE via deletion vectors: rows matching
    * `condition` are marked deleted IN PLACE (a vector on their
    * files, never a rewrite) and their updated images are appended
    * as new files — write cost O(matched rows), not O(touched files'
    * bytes), the same merge-on-read economics as [[deleteDelta]] and
    * exactly Delta's UPDATE-with-DV path. `set` maps column name →
    * new-value expression evaluated over the OLD row (so
    * `"v" -> col("v") + 1` increments). Rules: identity columns are
    * GENERATED ALWAYS — they keep their values and may not be SET;
    * generated columns may not be SET (they RECOMPUTE from their
    * stored expressions over the post-image); partition columns MAY
    * be SET (rows move partitions — their post-images simply stage
    * under the new values); NOT NULL / CHECK constraints are
    * enforced on the post-image (refused ⇒ nothing committed). The
    * condition is evaluated exactly ONCE (pinned row set feeds the
    * vectors, the post-image, AND the change feed, so a
    * non-deterministic condition stays self-consistent). With CDF
    * enabled the commit stages update_preimage/update_postimage
    * rows. One commit; no matches → no-op, no commit. Returns the
    * committed (or current) version. */
  def updateDelta(spark: SparkSession, tablePath: String, condition: Column,
                  set: Map[String, Column],
                  commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    refuseIfAppendOnly(snap.configuration, "UPDATE", removesData = true)
    if (snap.files.isEmpty) return snap.version
    val genExprs = generationExpressions(snap.schema)
    val idNames = identityFields(snap.schema).map(_.name).toSet
    set.keys.foreach { k =>
      require(snap.schema.exists(_.name == k),
        s"SET column $k not in table schema ${snap.schema.fieldNames.toSeq}")
      require(!idNames(k), s"cannot SET identity column $k (GENERATED ALWAYS)")
      require(!genExprs.contains(k),
        s"cannot SET generated column $k (it recomputes from its stored expression)")
    }
    // a generated column recomputes under the timezone it was
    // declared in — same guard as writeDelta's fill path
    snap.schema
      .filter(f => f.metadata.contains(GenExprKey) && f.metadata.contains(GenTzKey))
      .foreach { f =>
        val declared = f.metadata.getString(GenTzKey)
        val session = spark.sessionState.conf.sessionLocalTimeZone
        require(declared == session,
          s"generated column ${f.name} was declared under session timezone " +
            s"$declared; this session uses $session — the recompute would " +
            "disagree with the stored rows. Set spark.sql.session.timeZone accordingly.")
      }
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val tracking = rowTrackingOn(snap.configuration)
    // under row tracking the matched rows carry their stable _row_id,
    // which the post-image MATERIALIZES — an UPDATE preserves row
    // identity (its commit version rides the new add's default)
    val live =
      if (tracking) scanWithRowIds(spark, tablePath, snap, snap.files, keepTags = true)
      else {
        val filesArg = snap.files.map(a => (a, Map.empty[String, String]))
        val base = withFileIdentity(
          scanRelationBase(spark, tablePath, snap.schema, snap.partitionColumns, filesArg))
        applyDv(spark, tablePath, base, snap.files)
      }
    val matchedRows = live.where(condition)
      .select((snap.schema.map(f => col(f.name)) ++
        (if (tracking) Seq(col("_row_id")) else Nil) ++
        Seq(col("__graft_dv_file"), col("__graft_dv_ri"))).toIndexedSeq: _*)
      .localCheckpoint(true)
    val now = System.currentTimeMillis()
    val staged = stageDvRemoval(spark, tablePath, fs, snap, matchedRows, now)
    if (staged.isEmpty) return snap.version
    val (removeLines, reAddLines, anyKept, affectedFiles) = staged.get
    // post-image: SET expressions over the old row, then generated
    // columns recomputed — all map-side over the pinned matched set
    val fullCols = snap.schema.map(f => col(f.name)).toIndexedSeq
    // the materialized row-id column rides the post-image so updated
    // rows KEEP their stable ids across the rewrite
    val matIdCols =
      if (tracking) Seq(col("_row_id").as(snap.configuration(MatRowIdColKey))) else Nil
    val postSet = matchedRows.select((snap.schema.map { f =>
      set.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    } ++ matIdCols).toIndexedSeq: _*)
    val post = genExprs.toSeq.sortBy(_._1).foldLeft(postSet) { case (d, (name, e)) =>
      d.withColumn(name, expr(e).cast(snap.schema(name).dataType))
    }.select(fullCols ++ matIdCols.map(_ => col(snap.configuration(MatRowIdColKey))): _*)
    enforceConstraints(post, snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    })
    val adds = stageFiles(withNotNullGuards(post, snap.schema), table, fs,
      snap.partitionColumns, snap.version + 1, snap.schema)
    val cdcAdds: Seq[(String, Map[String, String], Long)] =
      if (!cdfEnabled(snap.configuration)) Nil
      else {
        val pre = matchedRows.select(fullCols: _*)
          .withColumn("_change_type", lit("update_preimage"))
        stageCdcFiles(pre.unionByName(
          post.select(fullCols: _*).withColumn("_change_type", lit("update_postimage"))),
          table, fs, snap.schema, snap.partitionColumns)
      }
    val protoLines = {
      val dvProto =
        if (!anyKept) snap.protocol
        else protocolWith(snap.protocol, "deletionVectors", _ => false,
          snap.schema, snap.configuration)
      val proto = writerGate(dvProto, cdcAdds.nonEmpty, 4, "changeDataFeed")
      if (proto == snap.protocol) Nil else Seq(protocolLine(proto))
    }
    val (addsRt, domainLines) = allocRowIds(snap.configuration, snap.domains,
      snap.version + 1, adds)
    val addLines = addsRt.map(a => addLine(a, now, dataChange = true))
    val cdcLines = cdcAdds.map { case (rel, pv, sz) => cdcLine(rel, pv, sz) }
    // same partition-scope rule as DELETE (UPDATE's post-images may
    // move partitions, but those land as ADDS — the read scope is
    // still the predicate's)
    val (updScope, updKnown) = partitionReadScope(spark, snap, condition)
    val committed = commitWithRetry(spark, fs, tablePath, snap.version + 1,
      protoLines ++ removeLines ++ reAddLines ++ addLines ++ domainLines ++ cdcLines,
      pureAppend = false, commitStore,
      ictKnown = Some(snap.configuration.get("delta.enableInCommitTimestamps").contains("true")),
      intent = Some(CommitIntent(affectedFiles.map(_.path).toSet, dataChange = true,
        updScope, updKnown)))
    maybeAutoCheckpoint(spark, tablePath, committed, snap.configuration)
    committed
  }

  /** Atomic partition overwrite — Delta's `replaceWhere`: remove
    * every file whose partition values satisfy `condition` and land
    * `df` in its place, in ONE commit (a reader sees the old slice
    * or the new slice, never neither or both). The predicate must
    * reference partition columns only — victims are selected by
    * METADATA (partition values evaluated through the table's
    * partition-column types), so the replaced slice is never
    * scanned except to stage its CDF delete image; whole files are
    * removed, no deletion vectors — the original replaceWhere
    * contract, O(batch + victims' metadata) at any table size.
    * Every incoming row must satisfy the predicate (refused
    * otherwise — nothing committed), the batch must carry exactly
    * the table's columns (no evolution through replaceWhere), and
    * CHECK / NOT NULL / generated-column agreement are enforced like
    * any write. Tables with identity columns are refused (assigning
    * under replace semantics would need the watermark machinery).
    * With CDF enabled the commit stages delete images for the
    * replaced LIVE rows (deletion vectors honored) and insert
    * images for the batch. Returns the committed version. */
  def writeDeltaReplaceWhere(df: DataFrame, tablePath: String, condition: Column,
                             commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val spark = df.sparkSession
    val snap = snapshot(spark, tablePath, None)
    requireWritable(snap.protocol, tablePath)
    refuseIfAppendOnly(snap.configuration, "REPLACE WHERE", removesData = true)
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    require(identityFields(snap.schema).isEmpty,
      "replaceWhere on a table with identity columns is not supported")
    // resolve the predicate against the TABLE schema (an empty local
    // relation) so its column references come back as resolved
    // attributes — the raw Column is a lazy node tree
    val refs =
      try spark.createDataFrame(new java.util.ArrayList[Row](), StructType(snap.schema.fields))
        .where(condition).queryExecution.analyzed
        .expressions.flatMap(_.references).map(_.name).toSet
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"replaceWhere predicate does not resolve against the table schema: ${e.getMessage}")
      }
    require(snap.partitionColumns.nonEmpty && refs.nonEmpty &&
      refs.subsetOf(snap.partitionColumns.toSet),
      s"replaceWhere predicate must reference partition columns " +
        s"${snap.partitionColumns.mkString(", ")} only; got ${refs.mkString(", ")}")
    require(df.columns.toSet == snap.schema.map(_.name).toSet,
      s"replaceWhere batch columns ${df.columns.toSeq.sorted} must match the " +
        s"table's ${snap.schema.map(_.name).sorted}")
    snap.schema.filter(f => df.columns.contains(f.name)).foreach { f =>
      require(df.schema(f.name).dataType == f.dataType,
        s"column ${f.name}: ${df.schema(f.name).dataType} conflicts with table's ${f.dataType}")
    }
    require(df.where(!condition).limit(1).count() == 0,
      "replaceWhere batch contains rows outside the predicate; nothing was committed")
    generationExpressions(snap.schema).toSeq.sortBy(_._1).foreach { case (name, e) =>
      val dt = snap.schema(name).dataType
      val bad = df.where(!(col(name) <=> expr(e).cast(dt))).limit(1).count()
      if (bad > 0) throw new IllegalStateException(
        s"generated column $name: supplied values disagree with its expression ($e); " +
          "nothing was committed")
    }
    enforceConstraints(df, snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    })
    // victims by partition METADATA: partition-value strings cast
    // through the declared column types, predicate evaluated on the
    // model-sized file list — the data files are never opened
    val partFields = snap.partitionColumns.map(snap.schema(_))
    val pvRows = snap.files.map { a =>
      Row.fromSeq(a.path +: partFields.map { f =>
        a.partitionValues.get(physicalName(f)).orNull match {
          case "__HIVE_DEFAULT_PARTITION__" => null
          case v => v
        }
      })
    }
    val pvSchema = StructType(StructField("__graft_path", StringType) +:
      partFields.map(f => StructField(f.name, StringType)))
    val victims: Set[String] = spark
      .createDataFrame(spark.sparkContext.parallelize(pvRows.toIndexedSeq, 1), pvSchema)
      .select(col("__graft_path") +:
        partFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .where(condition)
      .collect().map(_.getString(0)).toSet
    val victimAdds = snap.files.filter(a => victims(a.path))
    val aligned = df.select(snap.schema.map(f => col(f.name)).toIndexedSeq: _*)
    val adds = stageFiles(withNotNullGuards(aligned, snap.schema), table, fs,
      snap.partitionColumns, snap.version + 1, snap.schema)
    val cdcAdds: Seq[(String, Map[String, String], Long)] =
      if (!cdfEnabled(snap.configuration)) Nil
      else {
        val deletes =
          if (victimAdds.isEmpty) None
          else {
            val base = withFileIdentity(scanRelationBase(spark, tablePath,
              snap.schema, snap.partitionColumns,
              victimAdds.map(a => (a, Map.empty[String, String]))))
            Some(applyDv(spark, tablePath, base, victimAdds)
              .select(snap.schema.map(f => col(f.name)).toIndexedSeq: _*)
              .withColumn("_change_type", lit("delete")))
          }
        val inserts = aligned.withColumn("_change_type", lit("insert"))
        stageCdcFiles(deletes.map(_.unionByName(inserts)).getOrElse(inserts),
          table, fs, snap.schema, snap.partitionColumns)
      }
    val now = System.currentTimeMillis()
    val removeLines = victimAdds.map(a =>
      removeLine(a, now, dataChange = true))
    val (addsRt, domainLines) = allocRowIds(snap.configuration, snap.domains,
      snap.version + 1, adds)
    val addLines = addsRt.map(a => addLine(a, now, dataChange = true))
    val cdcLines = cdcAdds.map { case (rel, pv, sz) => cdcLine(rel, pv, sz) }
    val protoLines = {
      val proto = writerGate(snap.protocol, cdcAdds.nonEmpty, 4, "changeDataFeed")
      if (proto == snap.protocol) Nil else Seq(protocolLine(proto))
    }
    // replaceWhere's predicate is partition-only BY CONSTRUCTION, so
    // its read scope is exactly the replaced partitions: concurrent
    // traffic in other partitions commutes and the swap rebases
    val (rwScope, rwKnown) = partitionReadScope(spark, snap, condition)
    val committed = commitWithRetry(spark, fs, tablePath, snap.version + 1,
      protoLines ++ removeLines ++ addLines ++ domainLines ++ cdcLines,
      pureAppend = false, commitStore,
      ictKnown = Some(snap.configuration.get("delta.enableInCommitTimestamps").contains("true")),
      intent = Some(CommitIntent(victimAdds.map(_.path).toSet, dataChange = true,
        rwScope, rwKnown)))
    maybeAutoCheckpoint(spark, tablePath, committed, snap.configuration)
    committed
  }

  /** RESTORE the table to the state it had at `version` — a new
    * commit that removes every current file absent from the target
    * snapshot and re-adds every target file missing from the current
    * one (delta-rs/Delta RESTORE semantics: history is preserved, the
    * restore is itself a versioned, revertible commit). Files shared
    * by both snapshots are untouched; data files are only referenced,
    * never rewritten, so restore is METADATA-ONLY — O(log) driver
    * work regardless of table size. Requires the target files to
    * still exist (i.e. not vacuumed), per the protocol. Returns the
    * committed version. */
  def restoreDelta(spark: SparkSession, tablePath: String, version: Long,
                   commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val cur = snapshot(spark, tablePath, None)
    requireWritable(cur.protocol, tablePath)
    refuseIfAppendOnly(cur.configuration, "RESTORE", removesData = true)
    val tgt = snapshot(spark, tablePath, Some(version))
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    tgt.files.foreach { a =>
      require(fs.exists(dataPath(tablePath, a.path)),
        s"cannot restore to version $version: data file ${a.path} was vacuumed")
      a.dv.flatMap(d => dvPath(tablePath, d)).foreach(p => require(fs.exists(p),
        s"cannot restore to version $version: deletion vector $p was vacuumed"))
    }
    // a file is "unchanged" only when BOTH snapshots agree on its
    // deletion vector — a file shared by path but DV'd differently
    // (a delete landed after `version`) must be re-pointed to the
    // target's descriptor, which is part of the state being restored
    val curState = cur.files.map(a => a.path -> a.dv).toMap
    val tgtPaths = tgt.files.map(_.path).toSet
    val now = System.currentTimeMillis()
    val removeLines = cur.files.filter(a =>
      !tgtPaths.contains(a.path) ||
        tgt.files.exists(t => t.path == a.path && t.dv != a.dv)).map(a =>
      removeLine(a, now, dataChange = true))
    val addLines = tgt.files
      .filterNot(a => curState.get(a.path).contains(a.dv))
      .map { a =>
        val sz = a.size.getOrElse(fs.getFileStatus(dataPath(tablePath, a.path)).getLen)
        reAddLine(a, sz, now, dataChange = true, a.dv)
      }
    val next = cur.version + 1
    // a restore removes files, so a lost race aborts (stale snapshot)
    commitWithRetry(spark, fs, tablePath, next, removeLines ++ addLines,
      pureAppend = false, commitStore)
    next
  }

  /** SHALLOW CLONE: create a NEW Delta table whose v0 log references
    * the source snapshot's data files by ABSOLUTE URI — zero data
    * copied, O(log) driver work, any table size. The clone is
    * immediately writable and fully independent: its commits stage
    * fresh files under its own root and never touch the source
    * (copy-on-write applies from the first write). Stats and
    * partitionValues carry over, so data skipping and partition
    * pruning work on the clone from birth. Caveat per the Delta CLONE
    * contract: VACUUM on the source deletes files the clone still
    * references — pin or snapshot before vacuuming a cloned-from
    * table. Returns the clone's version (0). */
  def cloneDelta(spark: SparkSession, srcPath: String, dstPath: String,
                 version: Option[Long] = None,
                 commitStore: CommitStore = CreateExclusiveCommitStore): Long = {
    val snap = snapshot(spark, srcPath, version)
    val dst = new Path(dstPath)
    val fs = fsOf(spark, dst)
    require(latestVersion(spark, dstPath).isEmpty,
      s"clone destination $dstPath already has a Delta log")
    fs.mkdirs(new Path(dst, "_delta_log"))
    val srcFs = fsOf(spark, new Path(srcPath))
    val now = System.currentTimeMillis()
    val partColsJson = snap.partitionColumns.map(jsonStr).mkString("[", ",", "]")
    // table properties (incl. CHECK constraints) carry to the clone
    val metaLine = s"""{"metaData":{"id":${jsonStr(UUID.randomUUID().toString)},"format":{"provider":"parquet","options":{}},"schemaString":${jsonStr(snap.schema.json)},"partitionColumns":$partColsJson,"configuration":${configJson(snap.configuration)},"createdTime":$now}}"""
    val addLines = snap.files.map { a =>
      val abs = srcFs.makeQualified(dataPath(srcPath, a.path)).toUri.toString
      val pvJson = a.partitionValues.map { case (k, v) =>
        s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}"
      }.mkString("{", ",", "}")
      val sz = a.size.getOrElse(srcFs.getFileStatus(dataPath(srcPath, a.path)).getLen)
      val statsJson = a.stats.map(s => s""","stats":${jsonStr(s)}""").getOrElse("")
      // a DV sidecar is referenced by absolute URI too (same CLONE
      // rule as the data file it guards — zero bytes copied, and the
      // same source-VACUUM caveat applies); inline vectors carry
      // their bytes in the descriptor and copy verbatim
      val dvAbs = a.dv.map { d =>
        dvPath(srcPath, d) match {
          case None => d
          case Some(p) => d.copy(storageType = "p",
            pathOrInlineDv = srcFs.makeQualified(p).toUri.toString)
        }
      }
      s"""{"add":{"path":${jsonStr(abs)},"partitionValues":$pvJson,"size":$sz,"modificationTime":$now,"dataChange":true$statsJson${dvJson(dvAbs)}${rowIdJson(a.baseRowId, a.defaultRowCommitVersion)}}}"""
    }
    // live domainMetadata (e.g. the rowTracking high watermark)
    // carries to the clone, so its future commits keep allocating
    // above the source's ids instead of colliding with the cloned adds
    val domainLines = snap.domains.toSeq.sortBy(_._1).map { case (d, cfg) =>
      s"""{"domainMetadata":{"domain":${jsonStr(d)},"configuration":${jsonStr(cfg)},"removed":false}}"""
    }
    commitWithRetry(spark, fs, dstPath, 0L,
      Seq(protocolLine(snap.protocol), metaLine) ++ domainLines ++ addLines,
      pureAppend = false, commitStore)
    0L
  }

  private val CursorRe = """cursor-(\d+)""".r

  /** The stored cursor of a checkpointed change-feed consumer — the
    * highest fully-consumed commit version, or None for a fresh
    * consumer. */
  def readCursor(spark: SparkSession, checkpointDir: String): Option[Long] = {
    val dir = new Path(checkpointDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case CursorRe(v) => v.toLong }
      .sorted.lastOption
  }

  /** Restart-safe change-feed consumption — `followChanges` with a
    * CHECKPOINTED cursor, the Trigger.AvailableNow shape: drain every
    * commit past the stored cursor through `f` in order, persisting
    * the cursor AFTER each commit as a `cursor-{v}` marker file (a
    * new marker is created before older ones are pruned, so a crash
    * at ANY point never loses the high-water mark). A consumer that
    * crashes between versions resumes at exactly the unseen commits;
    * a crash INSIDE `f` replays that one commit — the foreachBatch
    * at-least-once boundary, upgraded to exactly-once end-to-end by
    * an idempotent sink (e.g. `exactlyOnceBatchSink`'s txn guard with
    * the commit version as the batch id). Returns the new cursor. */
  def followChangesCheckpointed(spark: SparkSession, tablePath: String,
                                checkpointDir: String)
                               (f: (Long, DataFrame) => Unit): Option[Long] = {
    val dir = new Path(checkpointDir)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    val start = readCursor(spark, checkpointDir)
    followChanges(spark, tablePath, start) { (v, batch) =>
      f(v, batch)
      writeText(fs, new Path(dir, s"cursor-$v"), v.toString)
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => CursorRe.findFirstMatchIn(p.getName).exists(_.group(1).toLong < v))
        .foreach(p => fs.delete(p, false))
    }
    readCursor(spark, checkpointDir)
  }
}
