package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** Table-maintenance specs: the generational manifest (commit /
  * time-travel read / pointer rollback / retention vacuum) and
  * OPTIMIZE-style small-file compaction (selection threshold, swap
  * safety, fixpoint idempotence, per-partition pools). The end-to-end
  * lifecycles are additionally oracle-verified by `x_maint_timetravel`
  * and `x_maint_compact`.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_maint").toString

  // ---- generational table ----

  test("commit / readGen / readCurrent round-trip per generation") {
    val root = tmp() + "/t"
    val g1 = Maintenance.commit(spark, root, Seq((1, "a")).toDF("k", "v"))
    val g2 = Maintenance.commit(spark, root,
      Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert((g1, g2) == (1, 2))
    assert(Maintenance.currentGen(spark, root) == 2)
    assert(Maintenance.readGen(spark, root, 1).count() == 1)
    assert(Maintenance.readCurrent(spark, root).count() == 2)
  }

  test("rollback is a manifest pointer, never a data copy") {
    val root = tmp() + "/t"
    Maintenance.commit(spark, root, Seq((1, "good")).toDF("k", "v"))
    Maintenance.commit(spark, root, Seq((1, "bad")).toDF("k", "v"))
    val g3 = Maintenance.rollback(spark, root, toGen = 1)
    assert(g3 == 3)
    // no gen_00000003 directory exists — the commit row resolves to 1
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(f"$root/gen_${3}%08d")))
    assert(Maintenance.readCurrent(spark, root)
      .select("v").as[String].collect().toSeq == Seq("good"))
    // the bad generation's history stays readable
    assert(Maintenance.readGen(spark, root, 2)
      .select("v").as[String].collect().toSeq == Seq("bad"))
  }

  test("vacuum keeps directories referenced by in-retention rollbacks") {
    val root = tmp() + "/t"
    (1 to 3).foreach(i =>
      Maintenance.commit(spark, root, Seq((i, s"g$i")).toDF("k", "v")))
    Maintenance.rollback(spark, root, toGen = 2) // gen 4 -> data gen 2
    val reclaimed = Maintenance.vacuum(spark, root, keepLast = 2)
    // retained commits: gens 3, 4 -> data dirs {3, 2}; only 1 reclaims
    assert(reclaimed == Seq(1))
    assert(Maintenance.readGen(spark, root, 4)
      .select("v").as[String].collect().toSeq == Seq("g2"))
    // a vacuumed generation fails LOUDLY, naming itself
    val e = intercept[IllegalArgumentException] {
      Maintenance.readGen(spark, root, 1)
    }
    assert(e.getMessage.contains("vacuumed"))
    // vacuum is idempotent: nothing further to reclaim
    assert(Maintenance.vacuum(spark, root, keepLast = 2).isEmpty)
  }

  // ---- manifest checkpointing ----

  test("the commit log checkpoints itself: files bounded, history intact") {
    val root = tmp() + "/t"
    (1 to 70).foreach(i =>
      Maintenance.commit(spark, root, Seq((i, s"g$i")).toDF("k", "v")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/_manifest"))
      .count(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    // 70 appends crossed the 64-file threshold at least once: the log
    // holds far fewer files than commits, yet EVERY row survives
    assert(nFiles < 64, s"log not checkpointed: $nFiles files")
    assert(Maintenance.manifest(spark, root).count() == 70)
    assert(Maintenance.currentGen(spark, root) == 70)
    // time travel, rollback and vacuum all work across checkpoints
    assert(Maintenance.readGen(spark, root, 1)
      .select("v").as[String].collect().toSeq == Seq("g1"))
    Maintenance.rollback(spark, root, toGen = 5)
    assert(Maintenance.readCurrent(spark, root)
      .select("v").as[String].collect().toSeq == Seq("g5"))
    val reclaimed = Maintenance.vacuum(spark, root, keepLast = 3)
    assert(reclaimed.nonEmpty && !reclaimed.contains(5))
    // an explicit checkpoint right after is a no-op on history
    Maintenance.checkpointManifest(spark, root)
    assert(Maintenance.currentGen(spark, root) == 71)
    assert(Maintenance.readCurrent(spark, root)
      .select("v").as[String].collect().toSeq == Seq("g5"))
  }

  test("appended and checkpointed log files are one physical schema: " +
      "the driver reader and a Spark scan see the same log") {
    val root = tmp() + "/t"
    // driver-side appends (commit writes the log row via parquet-hadoop)
    Maintenance.commit(spark, root,
      Seq((1, "a")).toDF("k", "v"))
    Maintenance.commit(spark, root,
      Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // fold into ONE checkpoint file, then append more rows on top, so
    // the log holds both kinds of file side by side
    Maintenance.checkpointManifest(spark, root)
    Maintenance.rollback(spark, root, toGen = 1)
    Maintenance.commit(spark, root,
      Seq((3, "c")).toDF("k", "v"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("gen", "action", "data_gen", "n_rows", "renames",
        "schema_json", "files")
      .orderBy("gen").collect().toSeq
    // the driver-local reader (what every operator consults) and a raw
    // Spark scan of the mixed directory agree row-for-row
    val local = canon(Maintenance.manifest(spark, root))
    val viaSpark = canon(spark.read.parquet(s"$root/_manifest"))
    assert(local == viaSpark)
    assert(local.map(r => (r.getInt(0), r.getString(1))) ==
      Seq((1, "commit"), (2, "commit"), (3, "rollback"), (4, "commit")))
    // nullable columns survive both writers: commits carry schema_json,
    // the rollback row is all-null in the optional fields
    assert(local.count(_.isNullAt(5)) == 1)
  }

  // ---- file stats, data skipping, copy-on-write merge ----

  test("footer-stats harvest agrees with a data-scan cross-check") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(4, col("event_id")),
      statsColumns = Seq("event_id", "event_type", "value"))
    val stats = Maintenance.statsFor(spark, root, 1).get
    // the expensive way, as the oracle: scan the data per file
    // the two sides surface different URI spellings of the same path
    // (file:/// vs file:/) — compare on the normalized form
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    val byScan = spark.read.parquet(f"$root/gen_${1}%08d")
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"),
        min("event_id").as("mn_id"), max("event_id").as("mx_id"),
        min("event_type").as("mn_t"), max("event_type").as("mx_t"),
        min("value").as("mn_v"), max("value").as("mx_v"))
      .collect().map(r => norm(r.getString(0)) -> r).toMap
    assert(stats.map(_.file).distinct.size == 4)
    stats.foreach { s =>
      val r = byScan(norm(s.file))
      assert(s.n_rows == r.getLong(1) && s.has_minmax, s)
      s.column match {
        case "event_id" =>
          assert(s.typ == "long" &&
            s.min_long.contains(r.getLong(2)) &&
            s.max_long.contains(r.getLong(3)), s)
        case "event_type" =>
          assert(s.typ == "string" &&
            s.min_str.contains(r.getString(4)) &&
            s.max_str.contains(r.getString(5)), s)
        case "value" =>
          assert(s.typ == "double" &&
            s.min_double.contains(r.getDouble(6)) &&
            s.max_double.contains(r.getDouble(7)), s)
      }
    }
  }

  test("pruned read: skips disjoint files, never drops a row, keeps " +
    "unstatted files") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(8, col("event_id")),
      statsColumns = Seq("event_id"))
    val pr = Maintenance.prunedReadCurrent(spark, root, "event_id",
      100L, 220L)
    assert(pr.filesTotal == 8 && pr.filesRead < 8 && pr.filesRead > 0, pr)
    assert(pr.rowsSkipped > 0)
    val got = pr.df.filter(col("event_id").between(100, 220))
      .orderBy("event_id").collect().toSeq
    val want = ev.filter(col("event_id").between(100, 220))
      .orderBy("event_id").collect().toSeq
    assert(got == want)
    // a column with no harvested stats can prune nothing
    val noStats = Maintenance.prunedReadCurrent(spark, root,
      "event_type", "a", "b")
    assert(noStats.filesRead == noStats.filesTotal)
    // a fully-disjoint range prunes everything and reads an empty frame
    val none = Maintenance.prunedReadCurrent(spark, root, "event_id",
      1000000L, 2000000L)
    assert(none.filesRead == 0 && none.df.count() == 0)
    assert(none.df.columns.toSeq ==
      Seq("event_id", "event_type", "value"))
  }

  test("planner-integrated skipping: pushed-down predicates of any " +
    "shape prune files; answers equal the full scan") {
    import graft.operators.Maintenance
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(8, col("event_id")),
      statsColumns = Seq("event_id", "event_type"))
    val (df, idx) = Maintenance.readCurrentSkipping(spark, root)
    def kept(): Int = idx.lastDecision._2
    // inclusive range through Spark's own pushdown
    assert(df.filter(col("event_id").between(100, 220))
      .count() == ev.filter(col("event_id").between(100, 220)).count())
    assert(kept() > 0 && kept() < 8, idx.lastDecision)
    // equality resolves to ONE file
    assert(df.filter(col("event_id") === 500).count() == 1)
    assert(kept() == 1, idx.lastDecision)
    // IN across distant values keeps exactly their two files
    assert(df.filter(col("event_id").isin(3, 997)).count() == 2)
    assert(kept() == 2, idx.lastDecision)
    // OR of two ranges unions the decisions
    assert(df.filter(col("event_id") < 50 || col("event_id") > 950)
      .count() ==
      ev.filter(col("event_id") < 50 || col("event_id") > 950).count())
    assert(kept() == 2, idx.lastDecision)
    // a predicate on an UNSTATTED column prunes nothing, loses nothing
    val vCut = ev.agg(max("value")).head().getDouble(0) / 2
    assert(df.filter(col("value") > vCut).count() ==
      ev.filter(col("value") > vCut).count())
    assert(kept() == 8, idx.lastDecision)
    // the filter still prunes when it sits under a join
    val dim = Seq((150L, "a"), (980L, "b")).toDF("event_id", "tag")
    val joined = df.filter(col("event_id").between(100, 200))
      .join(broadcast(dim), Seq("event_id"), "inner")
    assert(joined.count() == 1)
    assert(kept() < 8, idx.lastDecision)
    // the index composes with COW: after a merge the current
    // generation is FILE-GRANULAR (references into gen 1 + new
    // files) and skipping still plans point lookups over the merged
    // sidecar — including for a brand-new inserted key
    val src = ev.filter(col("event_id") === 500)
      .withColumn("event_id", lit(2000000L))
    Maintenance.merge(spark, root, src, "event_id")
    val (df2, idx2) = Maintenance.readCurrentSkipping(spark, root)
    assert(df2.filter(col("event_id") === 2000000L).count() == 1)
    assert(idx2.lastDecision._2 == 1, idx2.lastDecision)
    assert(df2.filter(col("event_id") === 3).count() == 1)
    assert(idx2.lastDecision._2 == 1, idx2.lastDecision)
  }

  test("merge: COW rewrite of touched files only; references survive " +
    "checkpoint and vacuum; full lifecycle stays correct") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(8, col("event_id")),
      statsColumns = Seq("event_id"))
    val upd = ev.filter(col("event_id").between(100, 220))
      .withColumn("event_type", lit("updated"))
      .withColumn("value", col("value") * 2)
    val ins = ev.filter(col("event_id") < 5)
      .withColumn("event_id", col("event_id") + lit(1000000L))
      .withColumn("event_type", lit("inserted"))
    val pinned = Maintenance.readGen(spark, root, 1)
    val nPinned = pinned.count()
    val st = Maintenance.merge(spark, root, upd.unionByName(ins),
      "event_id")
    assert(st.gen == 2 && st.filesTotal == 8, st)
    assert(st.filesRewritten < 8 && st.filesReferenced > 0, st)
    assert(st.filesRewritten + st.filesReferenced >= 8, st)
    // result = upsert semantics, via the slow way
    val want = upd.unionByName(ins).unionByName(
        ev.join(upd.unionByName(ins).select("event_id"),
          Seq("event_id"), "left_anti"))
      .orderBy("event_id").collect().toSeq
    assert(Maintenance.readCurrent(spark, root)
      .orderBy("event_id").collect().toSeq == want)
    // manifest n_rows was carried from metadata, not re-counted
    assert(Maintenance.manifest(spark, root)
      .filter(col("gen") === 2).select("n_rows").head().getLong(0) ==
      want.size.toLong)
    // snapshot isolation: the pinned gen-1 reader is unperturbed
    assert(pinned.count() == nPinned)
    // the untouched files are REFERENCED inside gen 1's directory
    val files = Maintenance.manifest(spark, root)
      .filter(col("gen") === 2).select("files").head().getString(0)
    assert(files != null && files.contains(f"gen_${1}%08d"))
    // file-level reachability: keep-1 vacuum reclaims NOTHING (gen 1
    // still holds referenced files)
    assert(Maintenance.vacuum(spark, root, keepLast = 1).isEmpty)
    // the file list survives a manifest checkpoint
    Maintenance.checkpointManifest(spark, root)
    assert(Maintenance.readCurrent(spark, root)
      .orderBy("event_id").collect().toSeq == want)
    // a second, disjoint merge prunes against the MERGED sidecar
    val upd2 = ev.filter(col("event_id").between(400, 450))
      .withColumn("event_type", lit("updated2"))
    val st2 = Maintenance.merge(spark, root, upd2, "event_id")
    assert(st2.filesRewritten < st2.filesTotal && st2.filesReferenced > 0,
      st2)
    val want2 = upd2.unionByName(
        Maintenance.readGen(spark, root, 2)
          .join(upd2.select("event_id"), Seq("event_id"), "left_anti"))
      .orderBy("event_id").collect().toSeq
    assert(Maintenance.readCurrent(spark, root)
      .orderBy("event_id").collect().toSeq == want2)
    // a full re-commit then retires the references: vacuum reclaims
    // gens 1 and 2 (gen 3's merge dir is still referenced by nothing
    // retained once gen 4 is the only live commit... it is reclaimed
    // too) and the old snapshots fail loudly
    Maintenance.commit(spark, root,
      Maintenance.readCurrent(spark, root))
    val reclaimed = Maintenance.vacuum(spark, root, keepLast = 1)
    assert(reclaimed == Seq(1, 2, 3), reclaimed)
    val e = intercept[IllegalArgumentException] {
      Maintenance.readGen(spark, root, 2).count()
    }
    assert(e.getMessage.contains("vacuum"))
    assert(Maintenance.readCurrent(spark, root)
      .orderBy("event_id").collect().toSeq == want2)
  }

  test("delete: COW purge of touched files only; absent-key purge is " +
    "a fixpoint; snapshot isolation holds until vacuum") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(8, col("event_id")),
      statsColumns = Seq("event_id"))
    val doomed = ev.filter(col("event_id").between(300, 360) &&
      col("event_id") % 2 === 0).select("event_id")
    val nDoomed = doomed.count()
    val st = Maintenance.delete(spark, root, doomed, "event_id")
    assert(st.gen == 2 && st.filesRewritten < 8 &&
      st.filesReferenced > 0, st)
    assert(st.rowsDeleted == nDoomed, st)
    val want = ev.join(doomed, Seq("event_id"), "left_anti")
      .orderBy("event_id").collect().toSeq
    assert(Maintenance.readCurrent(spark, root)
      .orderBy("event_id").collect().toSeq == want)
    // snapshot isolation: gen 1 still holds the purged rows
    assert(Maintenance.readGen(spark, root, 1).count() ==
      want.size + nDoomed)
    // fixpoint: the keys are gone, a re-purge mints no generation
    val again = Maintenance.delete(spark, root, doomed, "event_id")
    assert(again.gen == 2 && again.filesRewritten == 0 &&
      again.rowsDeleted == 0, again)
    assert(Maintenance.currentGen(spark, root) == 2)
    // a delete wholly outside every file range is also a fixpoint
    val ghost = Maintenance.delete(spark, root,
      spark.range(5000000, 5000010).select(col("id").as("event_id")),
      "event_id")
    assert(ghost.filesRewritten == 0 && ghost.gen == 2, ghost)
    // compliance completion: materialize + vacuum retires the old
    // generation that still physically held the purged rows
    Maintenance.commit(spark, root,
      Maintenance.readCurrent(spark, root))
    assert(Maintenance.vacuum(spark, root, keepLast = 1) == Seq(1, 2))
    val e = intercept[IllegalArgumentException] {
      Maintenance.readGen(spark, root, 1).count()
    }
    assert(e.getMessage.contains("vacuum"))
  }

  test("compactGen references at-size files instead of copying them") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    // one big partition + 5 small ones in a single commit
    val big = ev.filter(col("event_id") < 800).coalesce(1)
    val smalls = ev.filter(col("event_id") >= 800).repartition(5)
    Maintenance.commit(spark, root, big.unionByName(smalls))
    val sizes = listData(f"$root/gen_${1}%08d").map(_.getLen).sorted
    assert(sizes.size == 6)
    // floor chosen so exactly the 5 small files select; target = 2x
    val floor = sizes(4) + 1
    val (g2, st) = Maintenance.compactGen(spark, root,
      targetBytes = floor * 2, minFileBytes = floor)
    assert(g2 == 2 && st.filesRewritten == 5, st)
    // the big file was NOT copied: gen 2 references it inside gen 1
    val files = Maintenance.manifest(spark, root)
      .filter(col("gen") === 2).select("files").head().getString(0)
    assert(files != null && files.contains(f"gen_${1}%08d"))
    assert(Maintenance.readCurrent(spark, root)
      .orderBy("event_id").collect().toSeq ==
      ev.orderBy("event_id").collect().toSeq)
    // vacuum keeps gen 1 alive while the reference is retained
    assert(Maintenance.vacuum(spark, root, keepLast = 1).isEmpty)
  }

  // ---- write-audit-publish ----

  test("a staged candidate is invisible until published; publish is a " +
    "rename, not a rewrite") {
    val root = tmp() + "/t"
    Maintenance.commit(spark, root, Seq((1, "a")).toDF("k", "v"))
    val st = Maintenance.stageCommit(spark, root,
      Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // invisible to every table-state reader
    assert(Maintenance.currentGen(spark, root) == 1)
    assert(Maintenance.readCurrent(spark, root).count() == 1)
    // the audit job reads the landed bytes
    assert(Maintenance.readStage(spark, root, st).count() == 2)
    val g = Maintenance.publish(spark, root, st)
    assert(Maintenance.currentGen(spark, root) == g)
    assert(Maintenance.readCurrent(spark, root).count() == 2)
    // manifest row count rode over from the stage row (write-once)
    assert(Maintenance.manifest(spark, root)
      .filter(col("gen") === g).select("n_rows").head().getLong(0) == 2L)
    // the staging dir is GONE (renamed, not copied); re-publish fails
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .forall(!_.getPath.getName.startsWith("_stage_")))
    val e = intercept[IllegalArgumentException] {
      Maintenance.publish(spark, root, st)
    }
    assert(e.getMessage.contains("published"))
  }

  test("an aborted stage is reclaimed and can never publish") {
    val root = tmp() + "/t"
    Maintenance.commit(spark, root, Seq((1, "good")).toDF("k", "v"))
    val st = Maintenance.stageCommit(spark, root,
      Seq((1, "bad")).toDF("k", "v"))
    Maintenance.abortStage(spark, root, st)
    assert(Maintenance.currentGen(spark, root) == 1)
    assert(Maintenance.readCurrent(spark, root)
      .select("v").as[String].collect().toSeq == Seq("good"))
    val e = intercept[IllegalArgumentException] {
      Maintenance.publish(spark, root, st)
    }
    assert(e.getMessage.contains("aborted"))
    // a later commit allocates past the stage's id — one id sequence
    assert(Maintenance.commit(spark, root,
      Seq((2, "next")).toDF("k", "v")) > st)
  }

  // ---- schema evolution ----

  test("readGen reconciles old generations to the current schema") {
    val root = tmp() + "/t"
    Maintenance.commit(spark, root, Seq((1, "a")).toDF("k", "v"))
    // gen 2 renames v -> w (mapping recorded) and adds column extra
    Maintenance.commit(spark, root,
      Seq((1, "a2", 9L), (2, "b", 8L)).toDF("k", "w", "extra"),
      renames = Map("w" -> "v"))
    // current read: as written
    assert(Maintenance.readCurrent(spark, root).columns.toSeq ==
      Seq("k", "w", "extra"))
    // pre-evolution snapshot: v surfaces as w, extra as a typed null
    val g1 = Maintenance.readGen(spark, root, 1)
    assert(g1.columns.toSeq == Seq("k", "w", "extra"))
    assert(g1.schema("extra").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(g1.as[(Int, String, Option[Long])].collect().toSeq ==
      Seq((1, "a", None)))
  }

  test("rollback restores rows under the CURRENT schema (table-level " +
    "metadata, the Iceberg shape)") {
    val root = tmp() + "/t"
    Maintenance.commit(spark, root, Seq((1, "good")).toDF("k", "v"))
    Maintenance.commit(spark, root,
      Seq((1, "bad")).toDF("k", "w"), renames = Map("w" -> "v"))
    Maintenance.rollback(spark, root, toGen = 1)
    val cur = Maintenance.readCurrent(spark, root)
    assert(cur.columns.toSeq == Seq("k", "w"))
    assert(cur.as[(Int, String)].collect().toSeq == Seq((1, "good")))
  }

  // ---- compaction ----

  private def listData(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) out += st
    }
    out.result()
  }

  test("flat-pool compaction packs landing segments and is a fixpoint") {
    val work = tmp() + "/landing"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    (0 until 4).foreach { b =>
      ev.filter(pmod(col("event_id"), lit(4)) === b)
        .repartition(3)
        .write.mode("overwrite").parquet(s"$work/batch_$b")
    }
    val before = listData(work)
    assert(before.size == 12)
    val expected = ev.orderBy("event_id").collect().toSeq
    val st = Maintenance.compactDir(spark, work,
      targetBytes = 64L << 20, minFileBytes = 4L << 20)
    assert(st.filesRewritten == 12 && st.filesWritten == 1)
    val after = listData(work)
    assert(after.size == 1 &&
      after.head.getPath.getName.startsWith("compacted-"))
    // content-preserving: every row survives, byte re-blocking only
    assert(spark.read.parquet(work)
      .orderBy("event_id").collect().toSeq == expected)
    // second pass selects nothing — the idempotence fixpoint
    val again = Maintenance.compactDir(spark, work,
      targetBytes = 64L << 20, minFileBytes = 4L << 20)
    assert(again.filesRewritten == 0 && again.filesWritten == 0)
  }

  test("files at or above the size floor are never rewritten") {
    val work = tmp() + "/mixed"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    ev.coalesce(1).write.mode("overwrite").parquet(s"$work/big")
    ev.limit(50).repartition(2)
      .write.mode("overwrite").parquet(s"$work/small")
    val bigFile = listData(s"$work/big").head
    // floor below the big file's size: only the two small files pack
    val st = Maintenance.compactDir(spark, work,
      targetBytes = 64L << 20, minFileBytes = bigFile.getLen)
    assert(st.filesRewritten == 2)
    val names = listData(work).map(_.getPath.getName)
    assert(names.contains(bigFile.getPath.getName))
    // landing dirs are read recursively by convention (the
    // incrClusterRun bronze pattern) — the untouched big file stays
    // under its segment, the packed file lands at the pool root
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(work).count() == ev.count() + 50)
  }

  test("compactGen: snapshot-isolated pack, pinned reader survives, " +
    "fixpoint mints no generation, vacuum ages the original out") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    Maintenance.commit(spark, root, ev.repartition(6)) // 6 small files
    val pinned = Maintenance.readGen(spark, root, 1)
    val expected = ev.orderBy("event_id").collect().toSeq
    val (g2, st) = Maintenance.compactGen(spark, root,
      targetBytes = 64L << 20, minFileBytes = 4L << 20)
    assert(g2 == 2 && st.filesRewritten == 6 && st.filesWritten == 1)
    // the old generation's directory is untouched: the pinned reader
    // sees its exact snapshot AFTER the pack
    assert(pinned.orderBy("event_id").collect().toSeq == expected)
    assert(Maintenance.readCurrent(spark, root)
      .orderBy("event_id").collect().toSeq == expected)
    // manifest row count rode over from the source commit (write-only)
    assert(Maintenance.manifest(spark, root)
      .filter(col("gen") === 2).select("n_rows")
      .head().getLong(0) == expected.size.toLong)
    // fixpoint: a compacted generation is NOT re-committed
    val (g3, fix) = Maintenance.compactGen(spark, root,
      targetBytes = 64L << 20, minFileBytes = 4L << 20)
    assert(g3 == 2 && fix.filesRewritten == 0)
    assert(Maintenance.currentGen(spark, root) == 2)
    // retention reclaims the fragmented original; the pinned reader
    // then fails LOUDLY (lazy re-read of a vacuumed dir would be empty)
    assert(Maintenance.vacuum(spark, root, keepLast = 1) == Seq(1))
    val e = intercept[IllegalArgumentException] {
      Maintenance.readGen(spark, root, 1)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("compactGen on 48 small files runs one job: the pack's write") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    // more paths than spark.sql.sources.parallelPartitionDiscovery.threshold
    Maintenance.commit(spark, root, ev.repartition(48))
    val ((g2, st), cap) = Capture.during(spark) {
      Maintenance.compactGen(spark, root,
        targetBytes = 128L << 20, minFileBytes = 8L << 20)
    }
    assert(g2 == 2 && st.filesRewritten == 48 && st.filesWritten == 1, st)
    // no listing job and no schema-inference job (the manifest holds
    // the schema)
    assert(cap.jobs.size == 1, cap.jobs)
    // reading a generation back infers nothing: no job until an action
    val (current, read) = Capture.during(spark)(Maintenance.readCurrent(spark, root))
    assert(read.jobs.isEmpty, read.jobs)
    assert(current.orderBy("event_id").collect().toSeq ==
      ev.orderBy("event_id").collect().toSeq)
  }

  test("compactGen refuses a rollback that crossed a schema change") {
    val root = tmp() + "/t"
    Maintenance.commitWithStats(spark, root,
      Seq((1, "a"), (2, "b")).toDF("k", "v").repartition(2), Seq("k"))
    Maintenance.commitWithStats(spark, root,
      Seq((1, "a")).toDF("k", "w"), Seq("k"), renames = Map("w" -> "v"))
    Maintenance.rollback(spark, root, toGen = 1)
    // gen 1's physical files carry the pre-rename schema; a byte-copy
    // pack would mint a head commit that silently reverts the rename
    val e = intercept[IllegalArgumentException] {
      Maintenance.compactGen(spark, root,
        targetBytes = 64L << 20, minFileBytes = 4L << 20)
    }
    assert(e.getMessage.contains("materialize"))
    // and a skipping scan would plan the old names under the new schema
    val skip = intercept[IllegalArgumentException] {
      Maintenance.readCurrentSkipping(spark, root)
    }
    assert(skip.getMessage.contains("materialize"))
  }

  test("snapshot reads plan without a job; merge and delete infer no " +
      "schema") {
    val root = tmp() + "/t"
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(8, col("event_id")),
      statsColumns = Seq("event_id"))
    def jobs[T](body: => T): (T, Int) = {
      val (out, cap) = Capture.during(spark)(body)
      (out, cap.jobs.size)
    }
    val (some, pruneJobs) = jobs(Maintenance.prunedReadCurrent(spark, root,
      "event_id", 100L, 220L))
    assert(some.filesRead > 0 && some.filesRead < 8, some)
    val (none, emptyJobs) = jobs(Maintenance.prunedReadCurrent(spark, root,
      "event_id", 1000000L, 2000000L))
    assert(none.filesRead == 0, none)
    val (_, skipJobs) = jobs(Maintenance.readCurrentSkipping(spark, root))
    val st = Maintenance.stageCommit(spark, root, ev)
    val (staged, stageJobs) = jobs(Maintenance.readStage(spark, root, st))
    assert(staged.columns.toSeq == Seq("event_id", "event_type", "value"))
    Maintenance.abortStage(spark, root, st)
    assert((pruneJobs, emptyJobs, skipJobs, stageJobs) == (0, 0, 0, 0),
      (pruneJobs, emptyJobs, skipJobs, stageJobs))
    // merge and delete read the rewritten files under the manifest's
    // schema: none of these jobs infers a schema
    val upd = ev.filter(col("event_id").between(100, 220))
      .withColumn("event_type", lit("updated"))
    val (m, mergeJobs) = jobs(Maintenance.merge(spark, root, upd, "event_id"))
    assert(m.filesRewritten > 0 && m.filesReferenced > 0, m)
    val doomed = ev.filter(col("event_id").between(300, 360))
      .select("event_id")
    val (d, deleteJobs) = jobs(Maintenance.delete(spark, root, doomed,
      "event_id"))
    assert(d.filesRewritten > 0 && d.rowsDeleted == doomed.count(), d)
    assert((mergeJobs, deleteJobs) == (10, 9), (mergeJobs, deleteJobs))
  }

  test("per-parent pools keep hive partition files under their path") {
    val work = tmp() + "/hive"
    val df = Seq((1, "x"), (2, "x"), (3, "y"), (4, "y")).toDF("k", "p")
    // two appends guarantee >= 2 files under each partition directory
    df.write.partitionBy("p").mode("overwrite").parquet(work)
    df.write.partitionBy("p").mode("append").parquet(work)
    val st = Maintenance.compactDir(spark, work,
      targetBytes = 64L << 20, minFileBytes = 4L << 20, perParent = true)
    assert(st.pools == 2)
    // one packed file per partition directory, partition values intact
    val after = listData(work)
    assert(after.size == 2 &&
      after.map(_.getPath.getParent.getName).sorted == Seq("p=x", "p=y"))
    assert(spark.read.parquet(work)
      .groupBy("p").agg(count(lit(1)).as("n"), sum("k").as("s"))
      .orderBy("p").as[(String, Long, Long)].collect().toSeq ==
      Seq(("x", 4L, 6L), ("y", 4L, 14L)))
  }
}
