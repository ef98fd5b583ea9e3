package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table maintenance: the jobs a 100 TB warehouse runs BETWEEN queries.
  *
  * The reference stages its outputs as write-once / CTAS-overwrite
  * tables (`fotmob-dag.py:179-183`, `create_looker_data_table.sql:1`)
  * and leaves their upkeep to the warehouse; this engine's own
  * streaming sinks land batchId-named segments and its incremental
  * operators persist write-new-then-swap generations
  * ([[graft.streaming.StreamOps]]). At scale both patterns demand the
  * two most-run maintenance jobs in any production lake:
  *
  *  1. '''Generational commits with time travel, rollback, retention
  *     and schema evolution''' — the swap's "old generation" is not
  *     garbage, it is the table's history: readers pinned to a
  *     snapshot, incident rollback, and audit all address it, until a
  *     retention vacuum reclaims it. [[commit]]/[[readGen]]/
  *     [[rollback]]/[[vacuum]] formalize the pattern the incremental
  *     operators already use, with an append-only parquet manifest as
  *     the commit log. Rollback is a MANIFEST POINTER, never a data
  *     copy (the Delta-`RESTORE` shape): a rollback commit records
  *     `data_gen` of the restored generation, and [[vacuum]] resolves
  *     pointers so a still-referenced directory survives reclamation.
  *     A commit may EVOLVE the schema — add a column, or rename one
  *     with the mapping recorded in the manifest (the Iceberg
  *     column-mapping shape, additive-only) — and [[readGen]]
  *     reconciles every older generation to the current schema, so a
  *     time-travel reader never has to know which names were current
  *     when its snapshot was written.
  *
  *  2. '''Small-file compaction''' — streaming sinks produce one-file-
  *     per-trigger landings whose file COUNT, not byte volume, comes to
  *     dominate scan cost (driver listing, task scheduling, row-group
  *     overhead). [[compactDir]] is the `OPTIMIZE` shape over a raw
  *     directory: only files below `minFileBytes` are selected,
  *     bin-packed to ~`targetBytes` outputs, written first, swapped
  *     in, originals deleted. Files already at target are NEVER
  *     rewritten — re-running is a no-op (the fixpoint is the
  *     idempotence contract, pinned by MaintenanceSpec), so a
  *     scheduled compactor converges instead of churning the same
  *     bytes. [[compactGen]] is the same job SNAPSHOT-ISOLATED: the
  *     packed copy lands as a new generation and the manifest flip is
  *     the atomic swap, so pinned readers and crash replay need no
  *     operational contract at all.
  *
  * One question sits under every generational operation — which files,
  * under which schema, make up generation g — and one private
  * `Snapshot` answers it from ONE driver-local read of the manifest:
  * reads, time travel, skipping reads, merge, delete and the pack all
  * start from it. Every data read goes through `readParquet` under the
  * manifest's `schema_json`, so none pays a schema-inference job, and
  * the log itself has one driver-local reader and one writer, which
  * [[checkpointManifest]] shares with the append.
  *
  * Scale notes: the file inventory is driver-side METADATA (one
  * recursive listing — at warehouse scale the table format's manifest
  * serves it without touching the FS); the rewrite itself is
  * shuffle-free (`coalesce`, no exchange) and proportional to the
  * SMALL-file byte volume only. The file-level swap in [[compactDir]]
  * stands in for the table format's atomic commit: new files are fully
  * written and moved in (each move VERIFIED — a failed move aborts the
  * pool with originals intact) before any original is deleted, so a
  * crash mid-swap leaves duplicates (re-runnable) rather than loss;
  * [[compactGen]] rides the manifest flip instead and needs neither
  * caveat.
  */
object Maintenance {

  // ---------------------------------------------------------------
  // Generational table: append-only manifest + immutable gen dirs
  // ---------------------------------------------------------------

  /** Manifest schema: one row per commit. `action` ∈ commit | rollback
    * | vacuum; `data_gen` is the generation whose DIRECTORY holds this
    * commit's rows (= `gen` for a plain commit, the restored target
    * for a rollback, unused sentinel -1 for a vacuum audit row);
    * `renames` records this commit's column renames as `new=old` pairs
    * (`;`-separated, null when none); `schema_json` is the committed
    * DataFrame's schema (commit rows only) — the latest commit's is
    * the table's CURRENT schema, consulted by [[readGen]] without
    * touching any data directory (so vacuum can never strand it).
    *
    * Concurrency contract: SINGLE WRITER. The append-only parquet log
    * serializes history for any number of READERS (a reader never sees
    * a half-commit: data lands before the manifest row), but two
    * concurrent committers could both read `currentGen` = g and write
    * gen g+1 — a production deployment puts the append behind the
    * catalog's atomic swap (the maintenance loops in this engine are
    * single-writer by construction: one streaming query owns a root). */
  private val manifestSchema = StructType(Seq(
    StructField("gen", IntegerType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("data_gen", IntegerType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("renames", StringType, nullable = true),
    StructField("schema_json", StringType, nullable = true),
    // FILE-granular commits (the Iceberg-manifest shape): when
    // non-null, the newline-joined list of data files composing this
    // generation — possibly living in OLDER generations' directories.
    // Copy-on-write [[merge]] commits this way so untouched files are
    // REFERENCED, never rewritten; null = the generation is its own
    // directory (the original directory-granular shape).
    StructField("files", StringType, nullable = true)))

  private def manifestDir(root: String) = s"$root/_manifest"
  private def genDir(root: String, g: Int) = f"$root/gen_$g%08d"

  /** One manifest row, driver-side. The log is KB-sized METADATA by
    * design, so reading it must never launch a cluster job: every
    * internal consumer goes through [[manifestEntries]], which reads
    * the parquet log directly on the driver (the Delta/Iceberg shape —
    * their log readers are driver-local too), and every generational
    * operation reads it ONCE, through a [[Snapshot]]. */
  private final case class ManifestEntry(
      gen: Int, action: String, dataGen: Int, nRows: Long,
      renames: String, schemaJson: String, files: String)

  private def manifestFiles(
      fs: FileSystem, root: String): Seq[Path] = {
    val dir = new Path(manifestDir(root))
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir)
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(_.getPath).sortBy(_.getName).toSeq
  }

  /** The full commit log, oldest first, read ON THE DRIVER (no Spark
    * job): O(files) KB-sized parquet reads via parquet-hadoop, exactly
    * how the footer-stats harvest already reads footers. The log's one
    * reader, over the files of its one writer, [[writeManifest]]. */
  private def manifestEntries(
      spark: SparkSession, root: String): Seq[ManifestEntry] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val fs = hadoopFs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Seq.newBuilder[ManifestEntry]
    manifestFiles(fs, root).foreach { p =>
      val reader =
        ParquetReader.builder(new GroupReadSupport(), p).withConf(conf)
          .build()
      try {
        var g = reader.read()
        while (g != null) {
          def opt(f: String): String =
            if (g.getFieldRepetitionCount(f) == 0) null
            else g.getString(f, 0)
          out += ManifestEntry(
            g.getInteger("gen", 0), g.getString("action", 0),
            g.getInteger("data_gen", 0), g.getLong("n_rows", 0),
            opt("renames"), opt("schema_json"), opt("files"))
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result().sortBy(_.gen)
  }

  /** The manifest's physical parquet schema — the one Spark writes for
    * [[manifestSchema]], so a plain Spark scan of `_manifest` reads the
    * log too. */
  private lazy val manifestMessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int32 gen;
        |  required binary action (UTF8);
        |  required int32 data_gen;
        |  required int64 n_rows;
        |  optional binary renames (UTF8);
        |  optional binary schema_json (UTF8);
        |  optional binary files (UTF8);
        |}""".stripMargin)

  private def encodeRenames(m: Map[String, String]): String =
    if (m.isEmpty) null
    else m.toSeq.sorted.map { case (n, o) => s"$n=$o" }.mkString(";")

  private def decodeRenames(s: String): Seq[(String, String)] =
    if (s == null || s.isEmpty) Nil
    else s.split(";").toSeq.map { kv =>
      val i = kv.indexOf('=')
      (kv.take(i), kv.drop(i + 1))
    }

  // newline-joined: a path cannot contain '\n', and the manifest stays
  // one self-describing parquet column (no JSON library dependency)
  private def encodeFiles(files: Seq[String]): String =
    files.mkString("\n")
  private def decodeFiles(s: String): Seq[String] =
    if (s == null || s.isEmpty) Nil else s.split("\n").toSeq

  /** Auto-checkpoint threshold: a manifest append is one tiny parquet
    * file, so a long-lived table's log grows one FILE per commit and
    * every `manifest()` read pays O(commits) file opens — the log
    * itself becomes the scale bottleneck its tables exist to avoid.
    * Past this many files the append folds the log into one file
    * (the Delta-checkpoint shape: Delta writes a checkpoint every 10
    * commits for exactly this reason). 64 keeps the declared
    * maintenance queries (≤ 8 appends each) off the checkpoint path
    * entirely while bounding any long-running loop. */
  private val ManifestCheckpointEvery = 64

  /** Write `entries` as one new parquet file, DIRECTLY on the driver
    * (parquet-hadoop), not as a Spark job: the log is O(metadata) by
    * contract, and a `createDataFrame(..).coalesce(1).write` spends a
    * full job (plan + task + committer round trip) to land ~200 bytes
    * per row. The log's one writer: appends and checkpoints alike. */
  private def writeManifest(
      spark: SparkSession, file: Path, entries: Seq[ManifestEntry]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
      .withType(manifestMessageType)
      .build()
    val groups = new SimpleGroupFactory(manifestMessageType)
    try entries.foreach { e =>
      val grp = groups.newGroup()
      grp.append("gen", e.gen)
      grp.append("action", e.action)
      grp.append("data_gen", e.dataGen)
      grp.append("n_rows", e.nRows)
      Seq("renames" -> e.renames, "schema_json" -> e.schemaJson,
        "files" -> e.files).foreach { case (f, v) =>
        if (v != null) grp.append(f, v)
      }
      writer.write(grp)
    } finally writer.close()
  }

  /** Append one commit row as one tiny parquet file. The file name
    * embeds gen + a uuid so appends never collide; readers (Spark and
    * [[manifestEntries]]) just see one more file of the same schema. */
  private def appendManifest(
      spark: SparkSession, root: String, e: ManifestEntry): Unit = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    writeManifest(spark,
      new Path(manifestDir(root), f"append-${e.gen}%08d-$tag.parquet"), Seq(e))
    if (manifestFiles(hadoopFs(spark, root), root).size >= ManifestCheckpointEvery)
      checkpointManifest(spark, root)
  }

  /** Fold the commit log into ONE parquet file, preserving every row —
    * history compaction for the log itself, auto-invoked by the
    * appender past [[ManifestCheckpointEvery]] files and callable
    * directly. Driver-local like the append: the rows already read
    * are written through [[writeManifest]], no Spark job. The swap
    * (write compacted → delete old dir → rename in, the rename
    * verified) rides the table's documented SINGLE-WRITER contract:
    * the writer that appends is the writer that checkpoints, and
    * in-process readers serialize through the driver between
    * operations; a production deployment makes the flip
    * catalog-atomic exactly like the commit append itself. */
  def checkpointManifest(spark: SparkSession, root: String): Unit = {
    val fs = hadoopFs(spark, root)
    val dir = new Path(manifestDir(root))
    if (!fs.exists(dir)) return
    val tmp = new Path(s"$root/_manifest_ckpt")
    fs.delete(tmp, true)
    writeManifest(spark, new Path(tmp, "checkpoint.parquet"),
      manifestEntries(spark, root))
    fs.delete(dir, true)
    require(fs.rename(tmp, dir),
      s"manifest checkpoint rename failed for $root; the compacted " +
        s"log is intact at $tmp — rename it to _manifest to recover")
  }

  /** The full commit log, oldest first, as a DataFrame (public
    * surface). Built from the driver-local rows — a LocalRelation, so
    * downstream actions never re-scan the log's files. Empty frame on
    * a fresh root. */
  def manifest(spark: SparkSession, root: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] = manifestEntries(spark, root)
      .map(e => Row(e.gen, e.action, e.dataGen, e.nRows, e.renames,
        e.schemaJson, e.files): Row).asJava
    spark.createDataFrame(rows, manifestSchema)
  }

  /** Next free manifest id — ONE sequence across commits, rollbacks
    * and stages, so a staged-but-unpublished candidate can never
    * collide with a later commit's generation id. */
  private def nextId(entries: Seq[ManifestEntry]): Int =
    (if (entries.isEmpty) 0 else entries.map(_.gen).max) + 1

  /** Latest generation carrying data (commit or rollback), or 0 on a
    * fresh root. Driver-side: the manifest is KB-sized by design. */
  def currentGen(spark: SparkSession, root: String): Int = {
    val gens = manifestEntries(spark, root)
      .filter(e => e.action == "commit" || e.action == "rollback")
    if (gens.isEmpty) 0 else gens.map(_.gen).max
  }

  /** Generation `at` (the current one when None) as ONE read of the
    * commit log resolves it — which files, under which schema, make up
    * the generation. Every generational read, skip, merge, delete and
    * pack starts from one of these. It holds the log itself (for
    * [[nextId]] and [[reconcile]]), `dataGen` (the directory holding
    * the rows, through a rollback's pointer), the holding commit's file
    * list when that commit is file-granular, the holder's
    * `schema_json` (the physical schema of those files) and the head
    * commit's (the table's current schema). The directory listing and
    * the stats sidecar are read on first use. */
  private final class Snapshot(
      spark: SparkSession, val root: String, at: Option[Int]) {
    val entries: Seq[ManifestEntry] = manifestEntries(spark, root)
    private val data =
      entries.filter(e => e.action == "commit" || e.action == "rollback")
    val gen: Int = at.getOrElse(if (data.isEmpty) 0 else data.map(_.gen).max)
    private val row = data.find(_.gen == gen)
    require(row.nonEmpty, s"gen=$gen not in manifest")
    val dataGen: Int = row.get.dataGen
    val nRows: Long = row.get.nRows
    // a rollback row carries no file list of its own — the commit that
    // WROTE data_gen does (commit rows have gen == data_gen)
    private val holder =
      if (dataGen == gen) row else data.find(_.gen == dataGen)
    /** The holder's file list; None = the generation is its directory. */
    val listed: Option[Seq[String]] =
      holder.map(h => decodeFiles(h.files)).filter(_.nonEmpty)
    val schemaJson: String = holder.map(_.schemaJson).orNull
    val headJson: String = entries.filter(_.action == "commit")
      .lastOption.map(_.schemaJson).orNull
    val fs: FileSystem = hadoopFs(spark, root)
    def dir: String = genDir(root, dataGen)

    /** The generation's data files: the holder's list, else a listing
      * of its directory. */
    lazy val statuses: Seq[FileStatus] = listed.fold(dataFiles(fs, dir))(
      _.map(f => fs.getFileStatus(new Path(f))))
    lazy val files: Seq[String] =
      listed.getOrElse(statuses.map(_.getPath.toString))

    /** The files' schema as a read sees it, from `schema_json` (no
      * footer read; inferred only for rows that predate the column). */
    def schema: StructType = readParquet(spark, schemaJson, files.take(1)).schema

    /** The stats sidecar of the holding generation, if one was written
      * ([[commitWithStats]] / [[merge]]). Driver-local read — the
      * sidecar is O(files×columns) metadata, consulted on every
      * skipping read and COW probe. */
    lazy val stats: Option[Seq[TableStats.ColStats]] = {
      val d = statsDir(root, dataGen)
      if (!fs.exists(new Path(d))) None
      else Some(TableStats.readSidecarLocal(
        spark.sparkContext.hadoopConfiguration, d))
    }
    def requiredStats(op: String): Seq[TableStats.ColStats] =
      stats.getOrElse(throw new IllegalArgumentException(
        s"$op requires a stats sidecar — commit with commitWithStats(...)"))

    def nextId: Int = Maintenance.nextId(entries)

    /** Forward-reconcile `raw`, read at `dataGen`, to the head commit's
      * schema (see [[readGen]]). */
    def reconcile(raw: DataFrame): DataFrame = {
      var out = raw
      entries.filter(c => c.action == "commit" && c.gen > dataGen).foreach { c =>
        decodeRenames(c.renames).foreach { case (nw, old) =>
          if (out.columns.contains(old))
            out = out.withColumnRenamed(old, nw)
        }
      }
      if (headJson == null) out // legacy rows without schema
      else {
        val target = structOf(headJson)
        if (out.schema.fieldNames.toSeq == target.fieldNames.toSeq) out
        else out.select(target.fields.map { f =>
          if (out.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }
    }
  }

  private def structOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Parquet `paths` read under `schemaJson`, so no Spark job infers a
    * schema (rows that predate the column, null here, still infer).
    * Every read of a generational table's data goes through here.
    * Spark lists more root paths than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` with a
    * listing job; longer lists are read in chunks of that size and
    * unioned, each chunk listed without a job. */
  private def readParquet(
      spark: SparkSession, schemaJson: String, paths: Seq[String]): DataFrame = {
    val reader = Option(schemaJson).fold(spark.read)(j =>
      spark.read.schema(structOf(j)))
    val chunk = math.max(1, spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
    paths.grouped(chunk).map(reader.parquet(_: _*)).reduce(_ union _)
  }

  /** Write `df` as the next immutable generation, then append the
    * manifest row — data lands fully BEFORE the pointer flips, the
    * write-new-then-swap ordering every incremental operator in this
    * engine relies on. The committed row count is OBSERVED on the
    * write itself (`df.observe`): a commit writes once and reads zero
    * — at 100 TB a count-by-re-read would pay a second full scan per
    * commit. `renames` records this commit's column renames relative
    * to the previous generation (`newName -> oldName`); see
    * [[readGen]] for how old snapshots reconcile. Returns the new
    * generation id. */
  def commit(
      spark: SparkSession, root: String, df: DataFrame,
      renames: Map[String, String] = Map.empty): Int = {
    val g = nextId(manifestEntries(spark, root))
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(genDir(root, g))
    val n = obs.get("n").asInstanceOf[Long]
    appendManifest(spark, root,
      ManifestEntry(g, "commit", g, n, encodeRenames(renames), df.schema.json,
        null))
    g
  }

  // ---------------------------------------------------------------
  // File-level statistics, data skipping, copy-on-write merge
  // ---------------------------------------------------------------

  /** Per-generation stats sidecar (parquet, one row per file×column,
    * harvested from footers — see [[TableStats]]). Underscore-prefixed:
    * invisible to data readers; reclaimed with its generation. */
  private def statsDir(root: String, g: Int) = f"$root/_stats/gen_$g%08d"

  /** [[commit]] plus a footer-stats sidecar for `statsColumns`: the
    * harvest reads O(files) KB-sized footers on executors and ZERO
    * data pages, so a commit still writes once and re-reads nothing.
    * The sidecar powers [[prunedReadCurrent]] (data skipping) and
    * [[merge]] (touched-file pruning); skipping only prunes when the
    * data is clustered by the column — pass `df` through
    * `repartitionByRange` (or the z-order layout) first. */
  def commitWithStats(
      spark: SparkSession, root: String, df: DataFrame,
      statsColumns: Seq[String],
      renames: Map[String, String] = Map.empty): Int = {
    val g = commit(spark, root, df, renames)
    writeSidecar(spark, root, g,
      TableStats.harvestDir(spark, genDir(root, g), statsColumns))
    g
  }

  private def writeSidecar(
      spark: SparkSession, root: String, g: Int,
      stats: org.apache.spark.sql.Dataset[TableStats.ColStats]): Unit =
    stats.coalesce(1).write.mode("overwrite").parquet(statsDir(root, g))

  /** The sidecar of a generation made from older files plus new ones:
    * `kept` files' rows carried from `stats` (never re-read), `fresh`
    * files footer-harvested. */
  private def carrySidecar(
      spark: SparkSession, root: String, g: Int,
      stats: Seq[TableStats.ColStats], kept: Seq[String],
      fresh: Seq[String]): Unit = {
    import spark.implicits._
    val keptSet = kept.toSet
    writeSidecar(spark, root, g,
      TableStats.harvest(spark, fresh, stats.map(_.column).distinct)
        .unionByName(spark.createDataset(stats.filter(s => keptSet(s.file)))))
  }

  /** The stats sidecar of the generation HOLDING `gen`'s rows, if one
    * was written ([[commitWithStats]] / [[merge]]). */
  def statsFor(
      spark: SparkSession, root: String,
      gen: Int): Option[Seq[TableStats.ColStats]] =
    new Snapshot(spark, root, Some(gen)).stats

  /** Data-skipping read of the current generation: resolve the
    * inclusive range predicate `column BETWEEN lo AND hi` against the
    * stats sidecar and plan the scan over ONLY the files whose range
    * intersects it (all-null files skip too — BETWEEN never matches
    * NULL). Skipping is advisory — the returned frame still needs the
    * real filter applied (and keeps every file lacking usable stats) —
    * so the result is always a correct superset scan, never a wrong
    * answer. `lo`/`hi`: Long, Double or String, matching the column's
    * harvested slot. */
  def prunedReadCurrent(
      spark: SparkSession, root: String, column: String,
      lo: Any, hi: Any): TableStats.PrunedRead = {
    val snap = new Snapshot(spark, root, None)
    val (kept, skippedRows) = TableStats.pruneFiles(
      snap.stats.getOrElse(Nil), snap.files, column, lo, hi)
    // everything pruned: an empty frame under the table schema
    val df =
      if (kept.nonEmpty) readParquet(spark, snap.schemaJson, kept)
      else spark.createDataFrame(
        java.util.Collections.emptyList[Row](), snap.schema)
    TableStats.PrunedRead(
      snap.reconcile(df), snap.files.size, kept.size, skippedRows)
  }

  /** The current generation as a PLANNER-SKIPPING scan: a
    * `HadoopFsRelation` over [[graft.plans.StatsPrunedFileIndex]], so
    * Spark's own `FileSourceStrategy` resolves every pushed-down
    * predicate the user writes — `=`, ranges, `IN`, `startsWith`,
    * through `AND`/`OR`, wherever the filter sits — against the
    * footer-stats sidecar at planning time and scans only the files
    * that can match. [[prunedReadCurrent]] is the explicit one-range
    * API; THIS is the table behaving like a lake table (Delta/Iceberg
    * hand Spark the same seam). Returns the frame plus the index,
    * whose `lastDecision` records (total, kept) of the most recent
    * planning. Requires the holding generation to carry a stats
    * sidecar and its `schema_json` to name the table's current
    * columns. */
  def readCurrentSkipping(
      spark: SparkSession,
      root: String): (DataFrame, graft.plans.StatsPrunedFileIndex) = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val snap = new Snapshot(spark, root, None)
    val stats = snap.requiredStats("readCurrentSkipping")
    val dataSchema = snap.schema
    require(snap.headJson == null ||
      structOf(snap.headJson).fieldNames.toSeq == dataSchema.fieldNames.toSeq,
      "readCurrentSkipping requires the physical schema at the " +
        "table's current schema (no pending reconciliation); " +
        "commit(readCurrent(...)) to materialize first")
    val index = new graft.plans.StatsPrunedFileIndex(snap.statuses, stats)
    val rel = HadoopFsRelation(
      index, StructType(Nil), dataSchema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
    (spark.baseRelationToDataFrame(rel), index)
  }

  /** Copy-on-write merge outcome, driver-side metadata only. */
  final case class MergeStats(
      gen: Int, filesTotal: Int, filesRewritten: Int,
      filesReferenced: Int, rowsWritten: Long)

  /** MERGE `source` INTO the table ON `key` (WHEN MATCHED UPDATE SET *,
    * WHEN NOT MATCHED INSERT * — the upsert shape), COPY-ON-WRITE:
    *
    *  1. Resolve which current files CAN hold a source key by joining
    *     the source's keys against the sidecar's per-file [min,max]
    *     ranges (broadcast — file metadata is small; the scan side is
    *     the source). Files without usable key stats count as touched.
    *  2. Rewrite ONLY the touched files: their non-matched rows union
    *     the whole source, re-clustered by `key` on the way out
    *     (`repartitionByRange`) so the NEXT merge prunes just as well.
    *  3. Commit a FILE-GRANULAR generation: the untouched files are
    *     referenced by path — never read, never copied — and the new
    *     files live in the new generation's own directory. Snapshot
    *     isolation holds as ever (old generation intact for pinned
    *     readers; [[vacuum]] knows file-level reachability).
    *
    * At 100 TB this is the difference between a merge that rewrites
    * 100 TB and one that rewrites the few GB the keys actually land
    * in — THE reason lake formats carry file-level key ranges. Cost:
    * O(source) for the probe + O(touched bytes) for the rewrite; the
    * manifest append is O(metadata).
    *
    * Preconditions: the holding generation has a stats sidecar on
    * `key` ([[commitWithStats]] / a previous merge), `source` has the
    * table's exact schema, and source keys are unique (two source rows
    * with one key would both survive — same contract as Delta MERGE,
    * which throws on multiple matches). */
  def merge(
      spark: SparkSession, root: String, source: DataFrame,
      key: String): MergeStats = {
    val snap = new Snapshot(spark, root, None)
    val stats = snap.requiredStats(s"merge on '$key'")
    def shapeOf(s: StructType) =
      s.fields.toSeq.map(f => (f.name, f.dataType))
    require(snap.headJson != null &&
      shapeOf(structOf(snap.headJson)) == shapeOf(source.schema),
      s"merge source schema must equal the table schema; table=" +
        s"${snap.headJson} source=${source.schema.json}")
    val rewrite = touchedFiles(spark, snap, stats, source, key)
    val untouched = snap.files.filterNot(rewrite.toSet).sorted
    val survivors =
      if (rewrite.isEmpty) source
      else readParquet(spark, snap.schemaJson, rewrite)
        .join(source.select(col(key)), Seq(key), "left_anti")
        .unionByName(source)
    val (newGen, written, newFiles) =
      writeCow(spark, snap, rewrite.size, survivors, key)
    finalizeCow(spark, snap, newGen, newFiles, untouched, written, stats)
    MergeStats(newGen, snap.files.size, rewrite.size, untouched.size,
      written)
  }

  /** Copy-on-write delete outcome, driver-side metadata only. */
  final case class DeleteStats(
      gen: Int, filesTotal: Int, filesRewritten: Int,
      filesReferenced: Int, rowsDeleted: Long)

  /** DELETE the `key`s in `keys` from the table, COPY-ON-WRITE — the
    * right-to-be-forgotten job a training-data lake runs on demand.
    * Same file-pruned shape as [[merge]]: the delete set's keys probe
    * the sidecar's per-file ranges (join-free segment index), ONLY
    * the files that can hold a doomed key rewrite (their surviving
    * rows re-clustered by `key`), and the new generation REFERENCES
    * every other file in place — at 100 TB a 1k-key purge rewrites
    * the few files those keys live in, never the table. A purge of
    * ABSENT keys is a FIXPOINT two ways (the scheduled-purge
    * idempotence contract): keys outside every file range are proven
    * absent by the stats alone (free), and keys inside a range but
    * not in the data are caught when the rewrite deletes zero rows —
    * the commit is then ELIDED (Delta's empty-DELETE shape: the probe
    * cost is paid once, generation churn never). Rows deleted is
    * accounted from sidecar metadata (touched-file row counts minus
    * surviving rows) — zero re-read of untouched bytes.
    *
    * Snapshot-isolation caveat, stated plainly: older generations
    * still CONTAIN the purged rows until [[vacuum]] ages them out —
    * a compliance pipeline runs `delete` then a retention vacuum,
    * exactly as Delta's VACUUM-after-DELETE contract. */
  def delete(
      spark: SparkSession, root: String, keys: DataFrame,
      key: String): DeleteStats = {
    val snap = new Snapshot(spark, root, None)
    val stats = snap.requiredStats(s"delete on '$key'")
    val keySet = keys.select(col(key))
    val rewrite = touchedFiles(spark, snap, stats, keySet, key)
    val unchanged =
      DeleteStats(snap.gen, snap.files.size, 0, snap.files.size, 0L)
    if (rewrite.isEmpty) return unchanged
    val untouched = snap.files.filterNot(rewrite.toSet).sorted
    val survivors = readParquet(spark, snap.schemaJson, rewrite)
      .join(keySet, Seq(key), "left_anti")
    val (newGen, written, newFiles) =
      writeCow(spark, snap, rewrite.size, survivors, key)
    val rewriteRows = rowsIn(stats, rewrite)
    if (written == rewriteRows) {
      // the stats prune is a SUPERSET (a file's range can contain a
      // doomed key that is not actually present); when the rewrite
      // deleted nothing, ELIDE the commit — the candidate directory
      // is reclaimed, no manifest row lands, and the purge stays a
      // fixpoint (Delta's empty-DELETE elision). The probe cost was
      // paid; generation churn was not.
      snap.fs.delete(new Path(genDir(root, newGen)), true)
      return unchanged
    }
    finalizeCow(spark, snap, newGen, newFiles, untouched, written, stats)
    DeleteStats(newGen, snap.files.size, rewrite.size, untouched.size,
      rewriteRows - written)
  }

  /** The COW probe: the snapshot's files a `key` of `probe` can land
    * in, sorted — files without usable key stats, plus every file
    * whose sidecar [min,max] admits a probe key. Resolved WITHOUT a
    * join by [[TableStats.touchedFiles]]: the ranges decompose into
    * elementary segments (driver sweep), one broadcast binary search
    * assigns each probe key its segment, and a distinct over the tiny
    * segment-id space yields the hit set — O(|probe| log F), never
    * |probe| x |files|. */
  private def touchedFiles(
      spark: SparkSession, snap: Snapshot, stats: Seq[TableStats.ColStats],
      probe: DataFrame, key: String): Seq[String] = {
    val keyStats = stats.filter(s =>
      s.column == key && s.has_minmax).groupBy(_.file)
    val (prunable, unprunable) = snap.files.partition(keyStats.contains)
    val touched = TableStats.touchedFiles(
      spark, probe, key, prunable.map(keyStats(_).head))
    (unprunable ++ prunable.filter(touched)).sorted
  }

  /** Rows in `files`, from the sidecar's per-file `n_rows`. */
  private def rowsIn(
      stats: Seq[TableStats.ColStats], files: Seq[String]): Long = {
    val perFile = stats.groupBy(_.file).map { case (f, ss) => (f, ss.head.n_rows) }
    files.map(perFile.getOrElse(_, 0L)).sum
  }

  /** COW write half: land `survivors` re-clustered by `key` into the
    * candidate generation's directory. No manifest row yet — the
    * caller may still ELIDE the commit (empty delete), in which case
    * the directory is simply reclaimed and the unreferenced id is
    * reused by the next commit. Returns (candidate generation, rows
    * written, its files). */
  private def writeCow(
      spark: SparkSession, snap: Snapshot, nRewrite: Int,
      survivors: DataFrame, key: String): (Int, Long, Seq[String]) = {
    val newGen = snap.nextId
    val outDir = genDir(snap.root, newGen)
    snap.fs.delete(new Path(outDir), true)
    val nOut = math.max(1, nRewrite)
    val obs = Observation()
    survivors
      .repartitionByRange(nOut, col(key))
      .sortWithinPartitions(key)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(outDir)
    val written = obs.get("n").asInstanceOf[Long]
    (newGen, written,
      dataFiles(snap.fs, outDir).map(_.getPath.toString).sorted)
  }

  /** COW finalize half: the untouched files' sidecar rows and row
    * counts carried from METADATA (never re-read), the new files'
    * footers harvested, and the file-granular manifest append (the
    * visibility flip). */
  private def finalizeCow(
      spark: SparkSession, snap: Snapshot, newGen: Int,
      newFiles: Seq[String], untouched: Seq[String], written: Long,
      stats: Seq[TableStats.ColStats]): Unit = {
    carrySidecar(spark, snap.root, newGen, stats, untouched, newFiles)
    appendManifest(spark, snap.root,
      ManifestEntry(newGen, "commit", newGen, rowsIn(stats, untouched) + written,
        null, snap.headJson, encodeFiles(untouched ++ newFiles)))
  }

  // ---------------------------------------------------------------
  // Write-audit-publish (staged commits)
  // ---------------------------------------------------------------

  /** Stage a candidate generation INVISIBLY: data lands fully in an
    * underscore-prefixed staging directory (hidden to every reader
    * that honors the convention, including [[compactDir]]'s file walk)
    * and the manifest records a `stage` row that [[currentGen]] /
    * [[readGen]] / [[vacuum]] all ignore. The write-audit-publish
    * shape (Iceberg's WAP branch, Delta's staged commit): a production
    * ingest lands HERE, an audit job reads it back ([[readStage]]) and
    * runs its expectation checks against the real landed bytes — not
    * the plan that produced them — and only [[publish]] makes it the
    * table. Readers can NEVER observe a half-audited batch; a crashed
    * auditor leaves an orphan stage that [[abortStage]] reclaims.
    * Returns the stage id. Row count observed on the write
    * (same zero-re-read contract as [[commit]]). */
  def stageCommit(
      spark: SparkSession, root: String, df: DataFrame): Int = {
    val id = nextId(manifestEntries(spark, root))
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(stageDir(root, id))
    val n = obs.get("n").asInstanceOf[Long]
    appendManifest(spark, root,
      ManifestEntry(id, "stage", id, n, null, df.schema.json, null))
    id
  }

  private def stageDir(root: String, id: Int) = f"$root/_stage_$id%08d"

  /** The staged candidate, for the AUDIT job — reads the landed bytes
    * under the stage row's `schema_json`. Throws if the stage was
    * already published or aborted. */
  def readStage(spark: SparkSession, root: String, stageId: Int): DataFrame =
    readParquet(spark, requireLiveStage(spark, root, stageId).schemaJson,
      Seq(stageDir(root, stageId)))

  /** Promote an audited stage to the table's next generation: ONE
    * verified rename (the staged bytes are never rewritten) plus the
    * manifest append — publish is O(metadata) regardless of batch
    * size, which is the point: the expensive write happened at stage
    * time, before anything was visible. Returns the new generation. */
  def publish(spark: SparkSession, root: String, stageId: Int): Int = {
    val st = requireLiveStage(spark, root, stageId)
    val g = nextId(manifestEntries(spark, root))
    val fs = hadoopFs(spark, root)
    require(fs.rename(
      new Path(stageDir(root, stageId)), new Path(genDir(root, g))),
      s"publish rename failed for stage $stageId; stage left intact")
    appendManifest(spark, root,
      ManifestEntry(g, "commit", g, st.nRows, null, st.schemaJson, null))
    g
  }

  /** Reject a staged candidate (failed audit, or an orphan from a
    * crashed auditor): delete the staging directory, append the audit
    * trail row. Idempotent against a missing directory. */
  def abortStage(spark: SparkSession, root: String, stageId: Int): Unit = {
    requireLiveStage(spark, root, stageId)
    hadoopFs(spark, root).delete(new Path(stageDir(root, stageId)), true)
    appendManifest(spark, root,
      ManifestEntry(stageId, "abort", -1, 0L, null, null, null))
  }

  /** The stage row if `stageId` is live (staged, not yet published /
    * aborted); loud error otherwise. */
  private def requireLiveStage(
      spark: SparkSession, root: String, stageId: Int): ManifestEntry = {
    val rows = manifestEntries(spark, root)
      .filter(e => e.gen == stageId &&
        Set("stage", "abort", "commit")(e.action))
    require(rows.exists(_.action == "stage"),
      s"stage $stageId not in manifest")
    require(!rows.exists(_.action == "abort"),
      s"stage $stageId was aborted")
    require(hadoopFs(spark, root)
      .exists(new Path(stageDir(root, stageId))),
      s"stage $stageId was already published (or its directory is gone)")
    rows.find(_.action == "stage").get
  }

  /** Restore the table to `toGen` WITHOUT copying data: the new commit
    * row points its `data_gen` at the restored generation's directory.
    * History is never rewritten — the bad generations stay readable
    * (until vacuumed) and the restore itself is one manifest append.
    * Schema is TABLE-level metadata (the Iceberg shape): a rollback
    * restores ROWS, and [[readGen]] presents them under the current
    * schema like any other old snapshot. */
  def rollback(spark: SparkSession, root: String, toGen: Int): Int = {
    val entries = manifestEntries(spark, root)
    val m = entries.filter(e => e.gen == toGen &&
      (e.action == "commit" || e.action == "rollback"))
    require(m.nonEmpty, s"rollback target gen=$toGen not in manifest")
    val g = nextId(entries)
    appendManifest(spark, root,
      ManifestEntry(g, "rollback", m.head.dataGen, m.head.nRows, null, null,
        null))
    g
  }

  /** Resolve a generation to the files that hold its rows (following
    * a rollback's pointer), read them under the holding commit's
    * `schema_json`, and RECONCILE them to the table's current schema:
    * renames recorded by later commits apply forward, columns the
    * schema gained later surface as typed nulls, and columns it
    * dropped are omitted — so every reader, live or time-traveling,
    * sees ONE schema (the latest commit's, resolved from the manifest
    * without touching any data directory). When the snapshot already
    * matches the current schema the frame is returned as-is — zero
    * plan overhead on the no-evolution path. Throws with the
    * generation named if it was vacuumed — a pinned reader must fail
    * loudly, not silently read an empty dir. */
  def readGen(spark: SparkSession, root: String, gen: Int): DataFrame =
    read(spark, new Snapshot(spark, root, Some(gen)))

  /** Current table state = [[readGen]] of [[currentGen]]. */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    read(spark, new Snapshot(spark, root, None))

  private def read(spark: SparkSession, snap: Snapshot): DataFrame = {
    val paths = snap.listed match {
      case Some(fl) =>
        // file-granular generation: its rows may live across several
        // older directories; vacuum reclaims whole dirs, so checking
        // the distinct PARENTS is the exact liveness test
        fl.map(f => new Path(f).getParent).distinct.foreach { d =>
          require(snap.fs.exists(d),
            s"gen=${snap.gen} references files under vacuumed directory $d")
        }
        fl
      case None =>
        require(snap.fs.exists(new Path(snap.dir)),
          s"gen=${snap.gen} (data_gen=${snap.dataGen}) was vacuumed; " +
            "oldest retained generation is recorded in the manifest's " +
            "vacuum rows")
        Seq(snap.dir)
    }
    snap.reconcile(readParquet(spark, snap.schemaJson, paths))
  }

  /** Reclaim generation directories not reachable from the last
    * `keepLast` commits — "reachable" RESOLVES rollback pointers (a
    * directory an in-retention rollback still references survives even
    * if its own commit has aged out) AND file-granular commits' file
    * lists (a copy-on-write [[merge]] generation references untouched
    * files inside OLDER directories, which must therefore survive as
    * long as the merge is in retention). Appends an audit row per
    * reclaimed directory; returns the reclaimed generation ids. */
  def vacuum(
      spark: SparkSession, root: String, keepLast: Int): Seq[Int] = {
    val rows = manifestEntries(spark, root)
      .filter(e => e.action == "commit" || e.action == "rollback")
      .map(e => (e.gen, e.dataGen, e.files))
      .sortBy(_._1)
    val byGen = rows.map(r => (r._1, r)).toMap
    val fs = hadoopFs(spark, root)
    // every directory a row's data can live in: its data_gen's dir,
    // plus — for file-granular holders — each referenced file's parent
    def dirsOf(r: (Int, Int, String)): Seq[Path] = {
      val holder = if (r._2 == r._1) r else byGen.getOrElse(r._2, r)
      val base = fs.makeQualified(new Path(genDir(root, r._2)))
      base +: decodeFiles(holder._3)
        .map(f => fs.makeQualified(new Path(f)).getParent).distinct
    }
    val retainedDirs = rows.takeRight(keepLast).flatMap(dirsOf).toSet
    val reclaimable = rows.dropRight(keepLast).flatMap(dirsOf)
      .distinct.filterNot(retainedDirs)
      .filter(fs.exists)
    val reclaimed = reclaimable.map(d =>
      d.getName.stripPrefix("gen_").toInt).sorted
    reclaimable.foreach(fs.delete(_, true))
    reclaimed.foreach { g =>
      fs.delete(new Path(statsDir(root, g)), true)
      appendManifest(spark, root,
        ManifestEntry(g, "vacuum", -1, 0L, null, null, null))
    }
    reclaimed.toSeq
  }

  /** Recursively reclaim a throwaway table root once its (pinned)
    * result no longer references it. */
  def deleteRoot(spark: SparkSession, root: String): Unit =
    hadoopFs(spark, root).delete(new Path(root), true)

  /** A throwaway working directory reclaimed at JVM exit (shutdown
    * hook, plain java.io — no SparkSession needed at teardown). For
    * query-shaped maintenance lifecycles whose RESULT is a lazy read
    * over the scratch tree: the caller cannot [[deleteRoot]] before
    * the result is consumed, and leaking an events-table-sized temp
    * tree per run is the alternative. */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir.toString)))
    dir.toString
  }

  /** Run independent Spark jobs from driver threads (named
    * `<name>-<i>`) and wait for all of them: each job's straggler tail
    * back-fills with the other jobs' tasks. The first failure is
    * rethrown once every thread has ended, so no thread outlives the
    * call. */
  private[graft] def concurrently(name: String, jobs: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    jobs.zipWithIndex.map { case (job, i) =>
      val th = new Thread(() =>
        try job() catch { case e: Throwable => errs.add(e) }, s"$name-$i")
      th.start(); th
    }.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** Recursively delete a local throwaway directory (no SparkSession
    * needed — it also runs from [[scratchDir]]'s shutdown hook); a
    * missing path is a no-op. */
  private[graft] def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get(path)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
  }

  // ---------------------------------------------------------------
  // Small-file compaction (the OPTIMIZE shape)
  // ---------------------------------------------------------------

  /** Per-pool compaction outcome, driver-side metadata only. */
  final case class CompactStats(
      pools: Int, filesBefore: Long, filesRewritten: Long,
      filesWritten: Long, bytesRewritten: Long)

  private def hadoopFs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All data files under `dir`, recursively, honoring Spark's
    * hidden-path convention: a file is skipped if ANY path component
    * below `dir` starts with `_` or `.` (metadata files, staging dirs,
    * a generational root's `_manifest`). */
  private def dataFiles(fs: FileSystem, dir: String): Seq[FileStatus] = {
    val root = fs.makeQualified(new Path(dir))
    def hidden(p: Path): Boolean = {
      var cur = p
      while (cur != null && cur != root) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) return true
        cur = cur.getParent
      }
      false
    }
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      if (!hidden(st.getPath)) out += st
    }
    out.result()
  }

  /** A directory holding nothing but hidden entries (`_SUCCESS`
    * markers, committer droppings) is EMPTY to every reader that
    * honors the hidden-path convention — reclaim it as such. */
  private def onlyHiddenEntries(fs: FileSystem, p: Path): Boolean =
    fs.listStatus(p).forall { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }

  /** Shared fixpoint precondition: each packed output must itself land
    * at or above the selection floor, or a scheduled compactor
    * re-selects its own outputs and churns the same bytes forever.
    * `ceil(smallBytes / targetBytes)` outputs average > targetBytes/2
    * each, so `minFileBytes <= targetBytes / 2` guarantees it. */
  private def requireConvergent(
      targetBytes: Long, minFileBytes: Long): Unit =
    require(minFileBytes * 2 <= targetBytes,
      s"minFileBytes ($minFileBytes) must be <= targetBytes/2 " +
        s"(${targetBytes / 2}): a higher floor can re-select the packed " +
        "outputs and the compactor never converges")

  /** Bin-pack the sub-`minFileBytes` files under `dir` into
    * ~`targetBytes` outputs; files already at size are left untouched.
    *
    *  - `perParent = false`: one pool across the whole tree — the
    *    LANDING-SEGMENT layout (batchId-named subdirs are micro-batch
    *    provenance, not partition semantics, so packing across them is
    *    sound; segment dirs the pack emptied — holding at most hidden
    *    `_SUCCESS`-style markers — are removed).
    *  - `perParent = true`: one pool per leaf directory — the
    *    HIVE-PARTITION layout, where a file must stay under its
    *    partition path to keep its partition values (`OPTIMIZE` is
    *    always per-partition).
    *
    * Swap ordering: pack into a `_compact_tmp` staging dir (underscore
    * prefix → invisible to readers), MOVE the outputs into the pool —
    * each rename's result CHECKED, because `FileSystem.rename` reports
    * failure by returning false (dest exists, missing parent,
    * object-store quirks) and an unchecked move would delete originals
    * whose replacement never landed — and only then delete the
    * originals. A failed move aborts the pool with the originals
    * intact (the moved-in duplicates are removed, the error names the
    * path); a crash between move and delete leaves re-runnable
    * duplicates, never loss. Compacted files are named
    * `compacted-<uuid>-…` so a re-run (or crash replay) never
    * collides. The rewrite is `coalesce`, not `repartition`:
    * compaction must not pay a shuffle to move bytes it is only
    * re-blocking.
    *
    * NOT safe under an ACTIVE checkpointed file-stream source watching
    * `dir`: Structured Streaming's file source tracks seen FILES by
    * path, so it would ingest the packed outputs as brand-new data
    * (duplicates) while the deleted originals break replay. Compact
    * only tables read by batch readers — landings whose ingest has
    * completed (the AvailableNow lifecycles in this engine tear down
    * their checkpoints with the run), or downstream generations. Under
    * a manifest-backed table the same rule is enforced by snapshot
    * isolation — [[compactGen]] —; on raw directories it is an
    * operational contract. */
  def compactDir(
      spark: SparkSession, dir: String,
      targetBytes: Long, minFileBytes: Long,
      perParent: Boolean = false): CompactStats = {
    requireConvergent(targetBytes, minFileBytes)
    val fs = hadoopFs(spark, dir)
    val rootQ = fs.makeQualified(new Path(dir))
    val all = dataFiles(fs, dir)
    val pools = all.groupBy(st =>
      if (perParent) st.getPath.getParent else rootQ)
    var rewritten = 0L
    var written = 0L
    var bytes = 0L
    var nPools = 0
    pools.foreach { case (poolDir, files) =>
      val small = files.filter(_.getLen < minFileBytes)
      // one small file alone cannot be improved — fixpoint, not churn
      if (small.size >= 2) {
        nPools += 1
        val smallBytes = small.map(_.getLen).sum
        val nOut = math.max(1L,
          (smallBytes + targetBytes - 1) / targetBytes).toInt
        val tmp = new Path(poolDir, "_compact_tmp")
        fs.delete(tmp, true)
        spark.read
          .parquet(small.map(_.getPath.toString): _*)
          .coalesce(nOut)
          .write.mode("overwrite").parquet(tmp.toString)
        val tag = java.util.UUID.randomUUID().toString.take(8)
        var k = 0
        val moved = Seq.newBuilder[Path]
        var failedMove: Path = null
        dataFiles(fs, tmp.toString).foreach { st =>
          if (failedMove == null) {
            val dst = new Path(poolDir, s"compacted-$tag-$k.parquet")
            if (fs.rename(st.getPath, dst)) { moved += dst; k += 1 }
            else failedMove = st.getPath
          }
        }
        if (failedMove != null) {
          // abort THIS pool, originals untouched: the moved-in files
          // duplicate still-present originals, so removing them (and
          // the staging dir) restores the exact pre-compaction state
          moved.result().foreach(p => fs.delete(p, false))
          fs.delete(tmp, true)
          throw new java.io.IOException(
            s"compaction move failed for $failedMove into $poolDir; " +
              "pool aborted with originals intact — re-run after " +
              "resolving the filesystem condition")
        }
        fs.delete(tmp, true)
        small.foreach(st => fs.delete(st.getPath, false))
        // reclaim segment dirs the pack emptied (flat-pool mode only);
        // "empty" honors the hidden-path convention — Spark leaves a
        // _SUCCESS marker per landing, which readers already skip
        if (!perParent) {
          small.map(_.getPath.getParent).distinct
            .filter(p => p != poolDir)
            .filter(p => onlyHiddenEntries(fs, p))
            .foreach(p => fs.delete(p, true))
        }
        rewritten += small.size
        written += k
        bytes += smallBytes
      }
    }
    CompactStats(nPools, all.size.toLong, rewritten, written, bytes)
  }

  /** Snapshot-isolated `OPTIMIZE` over a generational table: pack the
    * current generation's sub-`minFileBytes` files into ~`targetBytes`
    * outputs landed as a NEW commit. The old generation's directory is
    * never touched — readers pinned by [[readGen]] keep reading it
    * unperturbed, and it is reclaimed only when a later [[vacuum]]
    * ages it out — so the manifest flip IS the atomic swap, retiring
    * both of [[compactDir]]'s raw-directory caveats (the active-
    * file-stream-source hazard and the crash-duplicates window) for
    * manifest-backed tables.
    *
    * Already-at-size files are REFERENCED in place: the new commit is
    * file-granular (the Iceberg-manifest shape — see the manifest's
    * `files` column), listing the at-size files where they already
    * live next to the freshly packed outputs. Re-blocking N small
    * files therefore costs O(small bytes) and nothing else — no
    * FS copy of the at-size bytes, no decode, no shuffle — and
    * [[vacuum]]'s file-level reachability keeps a referenced
    * directory alive exactly as long as the compacted generation is
    * in retention. The new commit's row count and schema are COPIED
    * from the source commit's manifest row: compaction re-blocks
    * bytes, never rows, so the pack is write-only (zero re-read, zero
    * re-count); a stats sidecar, if the source generation carried
    * one, rides over the same way (at-size rows carried, packed files
    * footer-harvested). A generation with fewer than two small files
    * is already the fixpoint: no new commit is appended (same
    * idempotence contract as [[compactDir]] — a scheduled optimizer
    * converges instead of minting no-op generations). Returns (the
    * generation now holding the current state, stats). */
  def compactGen(
      spark: SparkSession, root: String,
      targetBytes: Long, minFileBytes: Long): (Int, CompactStats) = {
    requireConvergent(targetBytes, minFileBytes)
    val snap = new Snapshot(spark, root, None)
    val all = snap.statuses
    val small = all.filter(_.getLen < minFileBytes)
    if (small.size < 2)
      return (snap.gen, CompactStats(0, all.size.toLong, 0L, 0L, 0L))
    // a rollback across a schema change leaves the current rows
    // physically under the OLD names (readGen reconciles on read); a
    // byte-copy pack of those files would mint a head commit whose
    // schema silently reverts the evolution — materialize first
    require(snap.schemaJson == snap.headJson,
      s"current generation's physical schema predates the table " +
        s"schema (rollback across a schema change); " +
        "commit(readCurrent(...)) to materialize before compacting")
    val fs = snap.fs
    val newGen = snap.nextId
    val outDir = new Path(genDir(root, newGen))
    fs.delete(outDir, true)
    val smallBytes = small.map(_.getLen).sum
    val nOut = math.max(1L,
      (smallBytes + targetBytes - 1) / targetBytes).toInt
    readParquet(spark, snap.schemaJson, small.map(_.getPath.toString))
      .coalesce(nOut)
      .write.mode("overwrite").parquet(outDir.toString)
    val packed = dataFiles(fs, outDir.toString)
      .map(_.getPath.toString).sorted
    val atSize = all.filterNot(_.getLen < minFileBytes)
      .map(st => fs.makeQualified(st.getPath).toString).sorted
    // sidecar rides over: at-size rows carried, packed files harvested
    snap.stats.foreach(carrySidecar(spark, root, newGen, _, atSize, packed))
    appendManifest(spark, root,
      ManifestEntry(newGen, "commit", newGen, snap.nRows, null,
        snap.schemaJson, encodeFiles(atSize ++ packed)))
    (newGen,
      CompactStats(1, all.size.toLong, small.size.toLong,
        packed.size.toLong, smallBytes))
  }
}
