package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, assert_true, coalesce, col, concat, concat_ws, count, countDistinct, explode, expr, floor, greatest, length, lit, lpad, max, min, pmod, round, slice, split, substring, sum, to_date, upper, when}

import graft.{Conventions, Tables}
import graft.operators.{Curation, Dedup, Maintenance, Multimodal, Packing, SimilaritySearch, TextAnalysis}
import graft.sources.Sinks
import graft.streaming.StreamOps

/** Tier X — training-data-pipeline extensions (SURVEY.md §2.2 Tier X +
  * BASELINE.json north star): dedup family, similarity search, text
  * analysis, multimodal plumbing.
  *
  * Thin wiring over the operator library in `graft.operators`; every
  * query orders by a unique key set for oracle hash-matching. The DuckDB
  * oracles re-derive MinHash/SimHash/LSH from the same portable
  * md5-based hash32, so even the sketch-based operators are
  * cross-engine-verified, not just row-counted.
  */
object TierX {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def vecs(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  val queries: Map[String, Q] = Map(
    "x_dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d)).orderBy("doc_id")),
    "x_dedup_exact_sql" -> ((s, d) => {
      // the declarative twin of x_dedup_exact: same normalize-hash-
      // aggregate as one spark.sql statement; TierXSpec pins plan-shape
      // and value identity with the operator form
      docs(s, d).createOrReplaceTempView("graft_documents_de")
      s.sql(
        """SELECT sha2(lower(regexp_replace(text, '\\s+', ' ')), 256)
          |         AS content_hash,
          |       min(doc_id) AS doc_id, count(1) AS n_copies
          |FROM graft_documents_de
          |GROUP BY 1 ORDER BY doc_id""".stripMargin)
    }),
    "x_dedup_near" -> ((s, d) =>
      // NOT persisted before the sort: unlike the minhash/simhash
      // family, caching the PPJoin output measured 2.5x SLOWER than
      // letting the range sampler recompute it (its lineage is cheap to
      // re-run past the internally persisted prefix index)
      Dedup.nearDupJaccard(docs(s, d), k = 3, threshold = 0.8)
        .orderBy("d1", "d2")),
    "x_dedup_minhash" -> ((s, d) =>
      // persist before the global sort (range partitioning samples its
      // child — without the cache the banded join runs twice; measured
      // 2.4 s -> 1.4 s). Same rationale for the simhash trio below
      Dedup.nearDupMinHash(docs(s, d), k = 3, threshold = 0.8)
        .persist().orderBy("d1", "d2")),
    "x_dedup_simhash" -> ((s, d) =>
      // persist before the global sort: range partitioning SAMPLES its
      // child, which would re-execute the whole 21.8M-collision blocked
      // join a second time (measured ~2× the query). Verify/Bench
      // clearCache() after each query, so the entry is bounded
      Dedup.simHash(docs(s, d), maxHamming = 6).persist()
        .orderBy("d1", "d2")),
    "x_dedup_simhash64" -> ((s, d) =>
      Dedup.simHash64(docs(s, d), maxHamming = 6).persist()
        .orderBy("d1", "d2")),
    "x_dedup_simhash64p" -> ((s, d) =>
      Dedup.simHash64Combi(docs(s, d), maxHamming = 6).persist()
        .orderBy("d1", "d2")),
    "x_part_prune" -> ((s, d) => {
      // hive-partitioned layout by o_orderpriority (written once per
      // JVM); the priority filter prunes whole directories at planning
      // time — PartitionFilters in the scan, pinned by SinkSpec
      val dir = Sinks.ensurePartitionedOrders(s, d)
      s.read.parquet(dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          Conventions.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderpriority")
    }),
    "x_zorder_prune" -> ((s, d) => {
      // Z-ordered layout (64 Morton tiles over range-binned
      // (l_partkey, l_suppkey), written once per JVM): a 2-D box
      // predicate reads ONLY its covering tiles — multi-dimensional
      // directory pruning from a single clustering key, the
      // OPTIMIZE-ZORDER shape. The tile isin list is derived
      // driver-side from the box's bin rectangle; bin monotonicity
      // makes the covering exact, so adding it loses no rows (the
      // oracle computes from the raw table with the box alone)
      import graft.operators.Layout
      val dir = Sinks.ensureZOrderedLineitem(s, d)
      val mm = Tables(s, d, "lineitem").agg(
        min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val (mnx, mxx, mny, mxy) =
        (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
      val (lox, hix) = (mnx + (mxx - mnx) / 4, mnx + (mxx - mnx) / 2)
      val (loy, hiy) = (mny + (mxy - mny) / 4, mny + (mxy - mny) / 2)
      val tiles = Layout.coveringTiles(
        Layout.binLocal(lox, mnx, mxx, 3), Layout.binLocal(hix, mnx, mxx, 3),
        Layout.binLocal(loy, mny, mxy, 3), Layout.binLocal(hiy, mny, mxy, 3))
      s.read.parquet(dir)
        .filter(col("zb").isin(tiles: _*))
        .filter(col("l_partkey").between(lox, hix) &&
          col("l_suppkey").between(loy, hiy))
        .groupBy("zb")
        .agg(count(lit(1)).as("n_rows"),
          Conventions.moneySum(col("l_extendedprice")).as("revenue"))
        .orderBy("zb")
    }),
    "x_maint_compact" -> ((s, d) => {
      // small-file compaction (the OPTIMIZE shape): the events table is
      // first landed the way a one-file-per-trigger streaming sink
      // leaves it — 12 batchId-named segments x 4 files — then
      // Maintenance.compactDir bin-packs the sub-threshold files into
      // target-size outputs (write-new, move-in, delete-old). The
      // oracle reads the raw table — compaction re-blocks bytes, it
      // must never change a row. MaintenanceSpec pins the selection and
      // the fixpoint (a second pass selects nothing). Bench attribution:
      // this query times the whole LIFECYCLE (land fragmented + compact
      // + read-back) by design; the operator-attributable number is the
      // split-timing 100x rehearsal row (t_synth excludes the landing)
      val ev = Tables(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
      // the result is a lazy read of the compacted tree, so the
      // scratch dir outlives this call — reclaimed at JVM exit
      // (scratchDir shutdown hook), never leaked per run
      val work = Maintenance.scratchDir("graft_compact")
      // the 12 landings are independent jobs into 12 distinct dirs —
      // submitted concurrently from driver threads; the landed tree is
      // byte-for-byte what the sequential loop produced
      Maintenance.concurrently("graft-land", (0 until 12).map { b => () =>
        ev.filter(pmod(col("event_id"), lit(12)) === b)
          .repartition(4)
          .write.mode("overwrite").parquet(s"$work/batch_$b")
      })
      Maintenance.compactDir(s, work,
        targetBytes = 128L << 20, minFileBytes = 8L << 20)
      s.read.parquet(work).orderBy("event_id")
    }),
    "x_maint_compact_gen" -> ((s, d) => {
      // snapshot-isolated OPTIMIZE: the same events frame committed as
      // a deliberately fragmented generation 1 (48 sub-threshold
      // files), then Maintenance.compactGen packs it into a NEW commit
      // — gen 1's directory is untouched, so a reader pinned before the
      // compaction keeps its snapshot (MaintenanceSpec pins that, the
      // no-op fixpoint pass and the vacuum that ages gen 1 out). The
      // oracle reads the raw table: compaction re-blocks bytes, never
      // rows — with the manifest flip as the atomic swap instead of
      // compactDir's file-level move-then-delete contract
      val ev = Tables(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
      val root = Maintenance.scratchDir("graft_compact_gen") + "/table"
      Maintenance.commit(s, root, ev.repartition(48))
      Maintenance.compactGen(s, root,
        targetBytes = 128L << 20, minFileBytes = 8L << 20)
      Maintenance.readCurrent(s, root).orderBy("event_id")
    }),
    "x_maint_wap" -> ((s, d) => {
      // write-audit-publish: a production ingest lands its candidate
      // state INVISIBLY (stageCommit — hidden staging dir + a manifest
      // row every reader ignores), an AUDIT job re-reads the landed
      // bytes and counts expectation violations, and only a candidate
      // with none publishes — ONE O(metadata) rename, the expensive
      // write having happened before anything was visible; any other
      // candidate is aborted. Readers can never observe a half-audited
      // batch. Candidate A carries a corrupted slice (event_type nulled
      // at event_id % 7 = 0) and aborts; the re-ingested clean
      // candidate B audits green and publishes. Oracle: baseline +
      // clean batch recomputed from the raw table
      val ev = Tables(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
      val root = Maintenance.scratchDir("graft_wap") + "/table"
      Maintenance.commit(s, root,
        ev.filter(pmod(col("event_id"), lit(3)) === 0))
      val corrupted = ev.filter(pmod(col("event_id"), lit(3)) === 1)
        .withColumn("event_type",
          when(pmod(col("event_id"), lit(7)) === 0, lit(null))
            .otherwise(col("event_type")))
      val base = Maintenance.readCurrent(s, root)
      Seq(corrupted, corrupted.filter(col("event_type").isNotNull))
        .foreach { batch =>
          val st = Maintenance.stageCommit(s, root, base.unionByName(batch))
          val violations = Maintenance.readStage(s, root, st)
            .filter(col("event_type").isNull).count()
          if (violations == 0) Maintenance.publish(s, root, st)
          else Maintenance.abortStage(s, root, st)
        }
      Maintenance.readCurrent(s, root).orderBy("event_id")
    }),
    "x_maint_schema_evolve" -> ((s, d) => {
      // schema evolution on the generational table: three commits
      // where the second RENAMES value -> amount (mapping recorded in
      // the manifest) and ADDS a source column. The current read and a
      // reader pinned to PRE-EVOLUTION gen 1 must both present the
      // CURRENT schema — gen 1's value surfaces as amount, its missing
      // source as a typed null — so time travel keeps working across
      // the evolution (the Iceberg column-mapping shape, additive
      // renames resolved forward from the manifest). The oracle
      // recomputes both snapshots from the raw table with explicit
      // casts
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val root = Maintenance.scratchDir("graft_schema_evolve") + "/table"
      Maintenance.commit(s, root,
        ev.filter(pmod(col("event_id"), lit(3)) === 0))
      val evolved = ev.withColumnRenamed("value", "amount")
        .withColumn("source", concat(lit("src_"), col("event_type")))
      Maintenance.commit(s, root,
        evolved.filter(pmod(col("event_id"), lit(3)) <= 1),
        renames = Map("amount" -> "value"))
      Maintenance.commit(s, root, evolved)
      val cur = Maintenance.readCurrent(s, root)
        .withColumn("gen", lit(3))
      val old = Maintenance.readGen(s, root, 1)
        .withColumn("gen", lit(1))
      cur.unionByName(old)
        .select("gen", "event_id", "event_type", "amount", "source")
        .orderBy("gen", "event_id")
    }),
    "x_maint_stats_skip" -> ((s, d) => {
      // file-level data skipping (the Iceberg/Delta stats shape): the
      // events table is committed range-clustered by event_id into 24
      // files, commitWithStats harvesting each file's per-column
      // min/max from parquet FOOTERS (O(files) KB-sized reads on
      // executors, zero data pages re-scanned); a 15%-selective range
      // read then plans its scan over ONLY the files whose range
      // intersects the predicate (MaintenanceSpec pins the pruning).
      // Skipping is advisory (the real filter still applies; a file
      // without usable stats is always scanned), so the oracle is
      // simply the filtered raw table: the pruned plan must be
      // invisible in the ANSWER and visible only in the files-read count
      val ev = Tables(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val root = Maintenance.scratchDir("graft_stats_skip") + "/table"
      Maintenance.commitWithStats(s, root,
        ev.repartitionByRange(24, col("event_id")),
        statsColumns = Seq("event_id", "event_type"))
      val (lo, hi) = (maxId / 5, maxId * 7 / 20)
      Maintenance.prunedReadCurrent(s, root, "event_id", lo, hi).df
        .filter(col("event_id").between(lo, hi)).orderBy("event_id")
    }),
    "x_maint_stats_auto" -> ((s, d) => {
      // data skipping integrated AT THE PLANNER (x_maint_stats_skip's
      // API variant made table behavior): readCurrentSkipping wraps
      // the generation in a HadoopFsRelation over a FileIndex that
      // resolves Spark's own pushed-down predicates against the
      // footer-stats sidecar — the user just writes .filter(...), on
      // any statted column, and FileSourceStrategy hands the
      // predicate to the index at planning time (the Delta/Iceberg
      // seam; MaintenanceSpec pins range, point and IN pruning).
      // Oracle: the filtered raw table — planner pruning must be
      // invisible in the answer
      val ev = Tables(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val root = Maintenance.scratchDir("graft_stats_auto") + "/table"
      Maintenance.commitWithStats(s, root,
        ev.repartitionByRange(24, col("event_id")),
        statsColumns = Seq("event_id", "event_type"))
      val (lo, hi) = (maxId * 3 / 5, maxId * 3 / 4)
      Maintenance.readCurrentSkipping(s, root)._1
        .filter(col("event_id").between(lo, hi)).orderBy("event_id")
    }),
    "x_maint_merge" -> ((s, d) => {
      // copy-on-write MERGE (upsert) with stats-pruned rewrite: the
      // events table committed range-clustered (16 files, footer-stats
      // sidecar on the key), then a source of range-LOCALIZED updates
      // plus brand-new keys merges in. The sidecar's per-file key
      // ranges resolve which files CAN match (broadcast range join
      // probed by one pass over the source); only those files rewrite
      // — every other file is REFERENCED by the new file-granular
      // generation, never read, never copied (MaintenanceSpec pins the
      // COW contract: pinned readers, references, vacuum). Oracle:
      // upsert semantics recomputed in SQL (source rows win on key
      // collision, the rest of the table carries over)
      val ev = Tables(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val root = Maintenance.scratchDir("graft_merge") + "/table"
      Maintenance.commitWithStats(s, root,
        ev.repartitionByRange(16, col("event_id")),
        statsColumns = Seq("event_id"))
      val upd = ev
        .filter(col("event_id").between(maxId / 10, maxId / 5) &&
          pmod(col("event_id"), lit(7)) === 0)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") * 2)
      val ins = ev
        .filter(col("event_id").between(maxId * 3 / 10, maxId * 2 / 5) &&
          pmod(col("event_id"), lit(37)) === 0)
        .withColumn("event_id", col("event_id") + lit(10000000L))
        .withColumn("event_type", lit("inserted"))
        .withColumn("value", col("value") + 1)
      Maintenance.merge(s, root, upd.unionByName(ins), "event_id")
      Maintenance.readCurrent(s, root).orderBy("event_id")
    }),
    "x_maint_delete" -> ((s, d) => {
      // copy-on-write DELETE — the right-to-be-forgotten job a
      // training-data lake runs on demand: a localized purge set (a
      // 5% id band, every 5th key) plus keys that do not exist probes
      // the stats sidecar, ONLY the files that can hold a doomed key
      // rewrite, and the new generation references the rest.
      // MaintenanceSpec pins the COW contract (file minority rewritten,
      // metadata-accounted delete count), the fixpoint (a re-purge of
      // absent keys mints no generation) and snapshot isolation until
      // vacuum. Oracle: the raw table minus the purge set
      val ev = Tables(s, d, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val root = Maintenance.scratchDir("graft_delete") + "/table"
      Maintenance.commitWithStats(s, root,
        ev.repartitionByRange(16, col("event_id")),
        statsColumns = Seq("event_id"))
      val (lo, hi) = (maxId * 6 / 10, maxId * 6 / 10 + maxId / 20)
      val doomed = ev
        .filter(col("event_id").between(lo, hi) &&
          pmod(col("event_id"), lit(5)) === 0)
        .select("event_id")
      Maintenance.delete(s, root, doomed, "event_id")
      Maintenance.readCurrent(s, root).orderBy("event_id")
    }),
    "x_maint_timetravel" -> ((s, d) => {
      // generational table lifecycle: three cumulative state commits
      // (the write-new-then-swap pattern with its manifest made
      // explicit), an incident ROLLBACK to gen 2 — a manifest pointer,
      // never a data copy — then a retention vacuum keeping the last 2
      // commits, under which gen 2's directory SURVIVES because the
      // in-retention rollback still references it while gen 1 is
      // reclaimed. The current read is therefore the state as of
      // batches 0-1, which the oracle recomputes from the raw table
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val work = java.nio.file.Files
        .createTempDirectory("graft_gen_table").toString
      val root = s"$work/table"
      try {
        (0 to 2).foreach { b =>
          val upTo = ev.filter(pmod(col("event_id"), lit(3)) <= b)
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              Conventions.moneySum(col("value")).as("total"))
          Maintenance.commit(s, root, upTo)
        }
        Maintenance.rollback(s, root, toGen = 2)
        Maintenance.vacuum(s, root, keepLast = 2)
        // a handful of per-type rows: pin driver-side so the throwaway
        // root can be reclaimed (the StreamOps maintenance-run lifecycle)
        StreamOps.pinTinyResult(s,
          Maintenance.readCurrent(s, root).orderBy("event_type"))
      } finally Maintenance.deleteRoot(s, work)
    }),
    "x_dedup_incremental" -> ((s, d) =>
      // incremental crawl dedup: batch docs (hash-fated ~10%) survive
      // only if unseen — within-batch collapse, then LEFT ANTI against
      // the corpus digest index
      Dedup.incrementalExact(docs(s, d)).orderBy("doc_id")),
    "x_dedup_within_doc" -> ((s, d) => {
      // intra-doc repeated-span removal; the corpus has near-zero
      // natural repetition, so docs with doc_id % 3 = 0 get their own
      // first 5 tokens PREPENDED (boundary-aligned guaranteed dup) —
      // the x_url_canon injected-variant convention
      val dd = docs(s, d)
      val injected = dd.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat_ws(" ",
            concat_ws(" ", slice(split(col("text"), " "), 1, 5)),
            col("text")))
          .otherwise(col("text")))
      Dedup.withinDocSpanDedup(injected, w = 5).orderBy("doc_id")
    }),
    "x_image_phash" -> ((s, d) =>
      // image near-dup primitive: real BMP container parse (magic,
      // data offset, dims), integer-exact 32-bit average-hash over
      // the pixel region
      Multimodal.imageAHash(s, docs(s, d)).toDF().orderBy("doc_id")),
    "x_ann_recall" -> ((s, d) => {
      // index health check: recall/precision of a deliberately weak
      // LSH config (8 hashes / 2 bands) against the PPJoin EXACT
      // ground truth at the same threshold — both sides are
      // corpus-scalable (PPJoin is exact without all-pairs), so the
      // report runs at production scale, not on a sample. Precision
      // must read 1.0: verified LSH pairs are a subset of exact by
      // construction, and the oracle re-derives that cross-engine
      val dd = docs(s, d)
      val exact = Dedup.nearDupJaccard(dd, k = 3, threshold = 0.8)
        .select(col("d1"), col("d2"), lit(1L).as("in_exact"))
      val lsh = Dedup
        .nearDupMinHash(dd, k = 3, threshold = 0.8,
          numHashes = 8, bands = 2)
        .select(col("d1"), col("d2"), lit(1L).as("in_lsh"))
      exact.join(lsh, Seq("d1", "d2"), "full_outer")
        .agg(
          sum("in_exact").as("n_exact"),
          sum("in_lsh").as("n_lsh"),
          sum(col("in_exact") * col("in_lsh")).as("n_both"))
        .select(col("n_exact"), col("n_lsh"), col("n_both"),
          round(col("n_both").cast("double") / col("n_exact"), 4)
            .as("recall"),
          round(col("n_both").cast("double") / col("n_lsh"), 4)
            .as("prec"))
    }),
    "x_audio_fp" -> ((s, d) =>
      // audio near-dup primitive: energy-delta sign bits over the
      // genuinely parsed PCM frames (4-sample frames so short clips
      // still carry bits)
      Multimodal.audioFingerprint(s, docs(s, d), frameSize = 4)
        .orderBy("doc_id")),
    "x_phash_pairs" -> ((s, d) =>
      // image near-dup END-TO-END: the aHashes paired by the blocked
      // pigeonhole equi-join at Hamming <= 6 — exact recall, never
      // all-pairs (the oracle IS the all-pairs ground truth)
      Dedup.hammingPairs32(
        Multimodal.imageAHash(s, docs(s, d)).toDF(),
        idCol = "doc_id", hashCol = "ahash32", maxHamming = 6)
        .persist().orderBy("d1", "d2")),
    "x_phash_pairs64" -> ((s, d) => {
      // the corpus-scale image sketch: 64-bit aHash (the documented
      // remedy for the 32-bit sketch's identical-hash collapse at
      // 100k+ images — see Multimodal.imageAHash64) paired by the same
      // pigeonhole machinery; ~9-bit block keys at radius 6 keep the
      // buckets sparse where the 32-bit query's ~4.6-bit keys saturate.
      // The corpus has no natural near-dup images (min pairwise 64-bit
      // Hamming is 10 at sf0.01), so the query injects deterministic
      // variants — the x_url_canon convention: every image doc gets a
      // replica at +3000000 (offset ≡ 0 mod 5 keeps it an image) with
      // its first ⌈n/8⌉ chars uppercased, a "small edit" whose aHash
      // lands within Hamming ~4-28 of the original — and the radius-6
      // pairing must recover exactly the close ones
      val dd = docs(s, d)
      val cut = expr("cast(ceil(n_chars / 8.0) as int)")
      val injected = dd.unionByName(
        dd.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(upper(substring(col("text"), lit(1), cut)),
              substring(col("text"), cut + 1, col("n_chars").cast("int")))
              .as("text"),
            col("lang"), col("source"), col("n_chars")))
      Dedup.hammingPairs64(
        Multimodal.imageAHash64(s, injected).toDF(),
        idCol = "doc_id", hashCol = "ahash64", maxHamming = 6)
        .persist().orderBy("d1", "d2")
    }),
    "x_pipeline_ccnet" -> ((s, d) => {
      // the CCNet composition; verbatim replicas of every 5th doc are
      // injected so the dedup stage removes real mass (the corpus has
      // no natural exact dups), and min-id keeps the originals
      val dd = docs(s, d)
      val injected = dd.unionByName(
        dd.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)))
      Curation.ccnet(injected).orderBy("doc_id")
    }),
    "x_graph_triangles" -> ((s, d) =>
      // triangle census of the minhash similarity graph: degree-
      // oriented wedge join, every triangle generated exactly once
      graft.operators.GraphRank.triangleCounts(
        Dedup.nearDupMinHash(docs(s, d), k = 3, threshold = 0.8))
        .orderBy("doc_id")),
    "x_dedup_keepbest" -> ((s, d) => {
      // near-dup collapse keeping the highest-QUALITY member per
      // cluster (not the arbitrary min-id representative)
      val dd = docs(s, d)
      Dedup.keepBestInCluster(
        Dedup.clustersStar(
          Dedup.nearDupMinHash(dd, k = 3, threshold = 0.8)),
        TextAnalysis.qualityScore(dd).select(col("doc_id"), col("quality")))
        .orderBy("cluster_rep")
    }),
    "x_winsorize" -> ((s, d) =>
      // per-type percentile clipping over the event values: exact
      // interpolated p05/p95 bounds, micro-unit exact means
      graft.operators.Stats.winsorize(
        Tables(s, d, "events").select(col("event_type"), col("value")),
        groupCol = "event_type", valueCol = "value")
        .orderBy("event_type")),
    "x_sample_weighted" -> ((s, d) =>
      // Efraimidis-Spirakis weighted top-50: length-weighted,
      // hash-fated, RNG-free
      Curation.weightedSample(docs(s, d), k = 50).orderBy("rnk")),
    "x_pref_pairs" -> ((s, d) =>
      // DPO-shape preference pairs: i-th best vs i-th worst by quality
      // within each source group, gap-separable pairs only
      Curation.preferencePairs(docs(s, d)).orderBy("source", "pair_idx")),
    "x_select_dsir" -> ((s, d) =>
      // DSIR-shape importance resampling: hashed-unigram LM log-ratio
      // vs the 'en' target, top 20% kept
      Curation.importanceResample(docs(s, d)).orderBy("rnk")),
    "x_dedup_cluster" -> ((s, d) =>
      Dedup.clusters(Dedup.nearDupMinHash(docs(s, d), k = 3, threshold = 0.8))
        .orderBy("doc_id")),
    "x_dedup_cluster_star" -> ((s, d) =>
      Dedup.clustersStar(Dedup.nearDupMinHash(docs(s, d), k = 3, threshold = 0.8))
        .orderBy("doc_id")),
    "x_contamination_embed" -> ((s, d) => {
      // SEMANTIC decontamination — the embedding-space member of the
      // contamination family (x_contamination = text-sketch Jaccard,
      // x_contamination_ngram = exact n-gram collisions): a
      // paraphrased benchmark doc shares no n-grams with its training
      // twin but its embedding stays near-parallel. Cross-corpus
      // sign-LSH: candidates join BETWEEN the banded fingerprint
      // frames, never |train| × |eval|; probes come from the train
      // side's first 16 vectors (both sides must hash identically)
      val v = vecs(s, d)
      SimilaritySearch.crossCosineLsh(
        v.filter(col("vec_id") % 10 =!= 0),
        v.filter(col("vec_id") % 10 === 0),
        threshold = 0.4, nBits = 16, rowsPerBand = 2)
        .persist()
        .orderBy("train_id", "eval_id")
    }),
    "x_contamination" -> ((s, d) => {
      // decontamination: which held-out docs are near-duplicated inside
      // the train split? Cross-corpus MinHash-LSH — candidates join
      // BETWEEN the banded indexes, never |train| × |eval|
      val dd = docs(s, d)
      val sides = dd.join(
        Curation.hashSplit(dd, trainPct = 80, valPct = 10)
          .select(col("doc_id"), col("split")), "doc_id")
      Dedup.crossDupMinHash(
        sides.filter(col("split") === "train"),
        sides.filter(col("split") =!= "train"),
        k = 3, threshold = 0.8)
        .orderBy("d1", "d2")
    }),
    "x_dedup_latest" -> ((s, d) =>
      // snapshot compaction over the events stream: latest event per
      // (user, type), via one aggregate (no per-key window sort)
      Dedup.latestByKey(
        Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), col("value")),
        keyCols = Seq("user_id", "event_type"),
        versionCols = Seq("ts", "event_id"),
        payloadCols = Seq("value"))
        .select(col("user_id"), col("event_type"),
          Conventions.tsStr(col("ts")).as("last_ts"),
          col("event_id").as("last_event_id"), col("value").as("last_value"),
          col("n_versions"))
        .orderBy("user_id", "event_type")),
    "x_sample_split" -> ((s, d) =>
      Curation.hashSplit(docs(s, d), trainPct = 80, valPct = 10)
        .orderBy("doc_id")),
    "x_sample_stratified" -> ((s, d) =>
      Curation.stratifiedSample(docs(s, d),
        ratesPerMille = Map("en" -> 200), defaultPerMille = 500)
        .orderBy("doc_id")),
    "x_token_hist" -> ((s, d) =>
      TextAnalysis.tokenHistogram(docs(s, d), bucketWidth = 20, nBuckets = 10)
        .orderBy("bucket")),
    "x_embed_quant" -> ((s, d) =>
      SimilaritySearch.quantizeInt8(vecs(s, d)).orderBy("vec_id")),
    "x_embed_pq" -> ((s, d) =>
      // product quantization: 2 subspaces × 4-codeword spherical
      // codebooks; encode = one shuffle-free projection
      SimilaritySearch.pqEncode(vecs(s, d), m = 2, codebookSize = 4,
        iters = 2).orderBy("vec_id")),
    "x_sim_pq_adc" -> ((s, d) =>
      // the PQ search side: exact-e6 ADC lookup-table scoring over the
      // coded corpus, top-5 per query. 16 codewords/subspace (vs the
      // compression query's 4): ADC's accuracy rides codebook richness
      // — at 4, whole cells tie and the tie-break picks arbitrary cell
      // members; at 16 the picks reliably beat the corpus average
      // (TierXSpec pins it)
      SimilaritySearch.pqTopK(vecs(s, d), nQueries = 5, k = 5,
        m = 2, codebookSize = 16, iters = 2)
        .orderBy("q_id", "srank")),
    "x_embed_centroid" -> ((s, d) =>
      SimilaritySearch.labelCentroids(vecs(s, d)).orderBy("label", "pos")),
    "x_quota_cap" -> ((s, d) =>
      Curation.quotaCap(docs(s, d), quota = 50).orderBy("doc_id")),
    "x_dedup_embed" -> ((s, d) =>
      // persist before the global sort: since the first-band dedup
      // removed the distinct (the only exchange below the orderBy),
      // the range-partitioner's sampling pass would re-execute the
      // whole band-join + verify — the SCALING.md cache-before-sort
      // rule (x_fingerprint's shape)
      SimilaritySearch
        .cosinePairsLsh(vecs(s, d), threshold = 0.4, nBits = 16, rowsPerBand = 2)
        .persist()
        .orderBy("v1", "v2")),
    "x_dedup_embed_cluster" -> ((s, d) =>
      // semantic dedup end-to-end: embedding-space near-dup pairs into
      // connected components — the same Hash-Min operator the text
      // modality uses, composed over a different pair source. The pair
      // frame is persisted: clusters() consumes it twice (both union
      // branches of the symmetric edge list), and without the persist
      // the whole LSH+cosine derivation re-runs per branch
      Dedup.clusters(
        SimilaritySearch
          .cosinePairsLsh(vecs(s, d), threshold = 0.4, nBits = 16, rowsPerBand = 2)
          .select(col("v1").as("d1"), col("v2").as("d2"))
          .persist())
        .select(col("doc_id").as("vec_id"), col("rep_id"), col("cluster_size"))
        .orderBy("vec_id")),
    "x_sim_topk" -> ((s, d) =>
      SimilaritySearch.bruteTopK(vecs(s, d), nQueries = 5, k = 10)
        .orderBy("q_id", "rank")),
    "x_mmr_rerank" -> ((s, d) =>
      // diversity-aware selection AFTER similarity search: from each
      // query's top-20 candidate pool, 5 greedy MMR picks (λ = 1/2 —
      // score = rel_e6 − max sim_e6 to the already-picked set), so two
      // near-duplicate neighbors never both make the cut
      SimilaritySearch.mmrRerank(vecs(s, d), nQueries = 5, nCand = 20,
        k = 5)
        .orderBy("q_id", "sel_rank")),
    "x_mmr_serving" -> ((s, d) =>
      // the PRODUCTION MMR composition: candidate pool from the IVF+PQ
      // serving index (coarse probe + ADC over codes — no corpus
      // cross-join), exact-cosine refine over the bounded pool, then
      // the same greedy diversity selection as x_mmr_rerank
      SimilaritySearch.mmrServing(vecs(s, d), nQueries = 5, nCand = 20,
        k = 5, nCentroids = 8, nProbe = 2, m = 2, codebookSize = 16,
        iters = 2)
        .orderBy("q_id", "sel_rank")),
    "x_sim_ann_lsh" -> ((s, d) =>
      SimilaritySearch
        .lshTopK(vecs(s, d), nQueries = 5, k = 5, nProbes = 4, probeHamming = 1)
        .orderBy("q_id", "rank")),
    "x_sim_ivf" -> ((s, d) =>
      SimilaritySearch
        .ivfTopK(vecs(s, d), nQueries = 5, k = 5, nCentroids = 8, nProbe = 2)
        .orderBy("q_id", "rank")),
    "x_sim_ivf_refresh" -> ((s, d) =>
      // checkpointed incremental index refresh: quantizer trained on
      // the base split and FROZEN, the delta split streamed in two
      // checkpointed micro-batches, each appended as an assignment
      // segment; the union must equal a full re-assign against the
      // same frozen centroids (the oracle) — per-batch work is a
      // zero-shuffle literal-centroid projection, O(|batch|)
      SimilaritySearch.ivfRefreshRun(s, d).orderBy("vec_id")),
    "x_sim_ivf_pq" -> ((s, d) =>
      // the composed serving index: IVF coarse-prune (8 cells, probe 2)
      // then PQ ADC scoring (2 subspaces × 16 codewords) over ONLY the
      // probed cells' codes — candidates come from a broadcast equi-join
      // on cell, never a corpus scan
      SimilaritySearch
        .ivfPqTopK(vecs(s, d), nQueries = 5, k = 5, nCentroids = 8,
          nProbe = 2, m = 2, codebookSize = 16, iters = 2)
        .orderBy("q_id", "srank")),
    "x_ann_recall_curve" -> ((s, d) =>
      // the serving index's tunable health report: the SAME IVF+PQ
      // index (cached quantizers) probed at nProbe ∈ {1, 2, 4}, each
      // graded against the exact cosine top-k ground truth — recall
      // (quality) vs ADC-scored candidate count (cost), one row per
      // probe setting
      SimilaritySearch.ivfPqRecallCurve(vecs(s, d),
        probes = Seq(1, 2, 4), nQueries = 5, k = 5, nCentroids = 8,
        m = 2, codebookSize = 16, iters = 2)),
    "x_text_analysis" -> ((s, d) =>
      TextAnalysis.corpusStats(docs(s, d)).orderBy("lang")),
    "x_lang_id" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),
    "x_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(docs(s, d)).orderBy("doc_id")),
    "x_quality_rrf" -> ((s, d) =>
      // rank fusion of incommensurable quality signals (RRF): per-lang
      // row_number ranks of length / lexical diversity / word length,
      // fused by exact integer Σ 10⁹ div (60 + rank)
      TextAnalysis.rrfQuality(docs(s, d)).orderBy("doc_id")),
    "x_token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(docs(s, d)).orderBy("doc_id")),
    "x_fingerprint" -> ((s, d) =>
      // persist before the sort — the range-partition sampling pass
      // would otherwise run the per-gram MD5 fingerprint twice
      TextAnalysis.fingerprints(docs(s, d)).persist().orderBy("doc_id")),
    "x_chunk_split" -> ((s, d) =>
      TextAnalysis.chunkSplit(docs(s, d), maxTokens = 50, stride = 25)
        .orderBy("doc_id", "chunk_id")),
    "x_tfidf_topterms" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(docs(s, d), k = 3)
        .orderBy("doc_id", "trank")),
    "x_bm25_rank" -> ((s, d) =>
      // serving-side IR ranking: top-20 BM25 hits for a fixed 3-term
      // query; per-term contributions pivot into fixed columns so the
      // float sum has ONE deterministic association cross-engine
      TextAnalysis.bm25Rank(docs(s, d), Seq("table", "scan", "order"))
        .orderBy("rrank")),
    "x_colloc_pmi" -> ((s, d) =>
      // multi-word-unit detection: top-30 adjacent bigrams by corpus
      // PMI (minCount 5); the ratio is one fixed-association double
      // expression, so e4-rounded scores hash-match cross-engine
      TextAnalysis.pmiCollocations(docs(s, d)).orderBy("crank")),
    "x_url_canon" -> ((s, d) => {
      // the corpus has no URL column, so content-identical crawl
      // variants are injected deterministically (scheme/host case,
      // default port, tracking params, param order, trailing slash —
      // keyed by doc_id residues); canonicalization must merge exactly
      // the variant families and keep distinct articles apart
      val base = (col("doc_id") % 50).cast("string")
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTPS://WWW.Host"), base,
            lit(".COM:443/Articles/Item?utm_source=feed&b=2&a=1")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://www.host"), base,
            lit(".com/Articles/Item?b=2&a=1&utm_campaign=x")))
        .otherwise(concat(lit("https://www.host"), base,
          lit(".com/Articles/Item2/?a=1&b=2")))
      docs(s, d)
        .select(col("doc_id"), Curation.canonicalizeUrl(url).as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_urls"), min("doc_id").as("min_doc"))
        .orderBy("canon")
    }),
    "x_multimodal_meta" -> ((s, d) =>
      // REAL container decode: text bytes are wrapped in genuine
      // BMP/WAV headers (by doc_id residue) and round-tripped through
      // binary header parsing; the oracle recomputes the header fields
      // arithmetically, so a parse bug cannot hash-match
      Multimodal.decode(s, Multimodal.packMediaTable(s, docs(s, d)))
        .toDF().orderBy("doc_id")),
    "x_audio_energy" -> ((s, d) =>
      // real DSP over real PCM bytes: RIFF walk → 16-bit LE samples →
      // exact integer Σ s² per 16-sample frame; row-local, no shuffle
      Multimodal.audioEnergy(s, docs(s, d), frameSize = 16).toDF()
        .orderBy("doc_id", "frame_idx")),
    "x_text_nfc" -> ((s, d) => {
      // Unicode NFC normalization via the native codegen expression
      // (expressions/NfcNormalize.scala). The corpus is verified ASCII,
      // so denormalized spellings are injected deterministically —
      // decomposed e+U+0301 / A+U+030A / o+U+0308 runs keyed by doc_id
      // residue; nfc() must compose exactly those and pass the
      // already-normalized rows through untouched (n_before == n_after)
      val raw = docs(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(substring(col("text"), 1, 24), lit(" Café")))
          .when(col("doc_id") % 3 === 1,
            concat(substring(col("text"), 1, 24), lit(" Ångström")))
          .otherwise(substring(col("text"), 1, 24)).as("raw"))
      raw.select(
        col("doc_id"),
        graft.expressions.NfcNormalize.of(col("raw")).as("norm"),
        length(col("raw")).cast("long").as("n_before"),
        length(graft.expressions.NfcNormalize.of(col("raw"))).cast("long")
          .as("n_after"))
        .orderBy("doc_id")
    }),
    "x_multimodal_frames" -> ((s, d) =>
      Multimodal.frameSample(s, docs(s, d), everyNth = 2).toDF()
        .select(col("doc_id"), col("frame_idx"),
          org.apache.spark.sql.functions.length(col("frame")).cast("long")
            .as("frame_bytes"))
        .orderBy("doc_id", "frame_idx")),
    "x_pack_sequences" -> ((s, d) =>
      // concat-the-shuffled-corpus-and-cut packing: global token
      // prefix-sum via the distributed two-phase path (range sort +
      // per-partition offsets) — never a single-partition window
      Packing.packSequences(docs(s, d), budget = 256).orderBy("doc_id")),
    "x_export_shards" -> ((s, d) => {
      // last-mile shard export: token-budgeted shard cuts over the
      // deterministic shuffle order (the x_pack_sequences layout at
      // shard scale), landed hive-partitioned with ONE file per shard,
      // manifest aggregated FROM THE LANDED FILES with a portable
      // per-shard fingerprint — the artifact a trainer consumes. The
      // manifest is shard-count-sized: pin driver-side, reclaim the
      // export dir (the StreamOps maintenance-run lifecycle)
      val work = java.nio.file.Files
        .createTempDirectory("graft_export").toString
      try StreamOps.pinTinyResult(s, Packing.exportShards(docs(s, d),
        shardTokens = 2000, outDir = s"$work/shards").orderBy("shard_id"))
      finally Maintenance.deleteRoot(s, work)
    }),
    "x_quality_rep" -> ((s, d) =>
      TextAnalysis.repetitionScore(docs(s, d), threshold = 0.2)
        .orderBy("doc_id")),
    "x_redact_pii" -> ((s, d) => {
      // the corpus has no natural PII, so deterministic patterns are
      // injected first (doc_id residues) — the scrub then has real
      // hits to find, and the oracle re-derives both sides
      val injected = docs(s, d).withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" reach user"), col("doc_id"),
            lit("@mail.com now")))
          .when(col("doc_id") % 5 === 1,
            concat(col("text"), lit(" dial 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" today")))
          .otherwise(col("text")))
      TextAnalysis.redact(injected).orderBy("doc_id")
    }),
    "x_cdc_apply" -> ((s, d) =>
      // current-state materialization from a change log with tombstones:
      // 'error' events delete the user, everything else upserts — one
      // max-struct aggregate then a tombstone filter over one row/key
      graft.operators.ChangeCapture.cdcApply(
        Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "error", "D").otherwise("U").as("op"),
            col("event_type"), col("value")),
        keyCols = Seq("user_id"),
        versionCols = Seq("ts", "event_id"),
        opCol = "op",
        payloadCols = Seq("event_type", "value"))
        .select(col("user_id"), col("op"), col("event_type"), col("value"),
          Conventions.tsStr(col("ts")).as("ts_s"),
          col("n_versions"))
        .orderBy("user_id")),
    "x_cdc_upsert" -> ((s, d) => {
      // the MERGE round trip the BigQuery sink implies: compact all but
      // the log's newest 2 hours into a persisted hash-partitioned
      // state table, MERGE the newest slice in place (partition-pruned
      // read + dynamic-partition rewrite — SinkSpec pins both), then
      // re-read. The oracle is the FULL-log replay: merge correctness
      // == replay equivalence, so a wrong winner, lost tombstone or
      // mis-summed audit count cannot hash-match
      import graft.operators.ChangeCapture
      val log = Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_type"), col("value"))
      val maxTs = log.agg(max(col("ts"))).head().getTimestamp(0)
      val cut = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
      val path = s"${sys.props("java.io.tmpdir")}/graft_cdc/" +
        s"state_${graft.CachePaths.tag(d)}"
      val keys = Seq("user_id")
      val versions = Seq("ts", "event_id")
      val payload = Seq("event_type", "value")
      ChangeCapture.writeCdcState(
        log.filter(col("ts") <= lit(cut)), path, keys, versions, "op", payload)
      ChangeCapture.mergeIntoState(
        s, path, log.filter(col("ts") > lit(cut)),
        keys, versions, "op", payload)
      ChangeCapture.readCurrentState(s, path, "op")
        .select(col("user_id"), col("op"), col("event_type"), col("value"),
          Conventions.tsStr(col("ts")).as("ts_s"),
          col("n_versions"))
        .orderBy("user_id")
    }),
    "x_domain_mix" -> ((s, d) =>
      Curation.domainMix(docs(s, d), groupCol = "lang").orderBy("doc_id")),
    "x_domain_upsample" -> ((s, d) =>
      // epoch-style fractional upsampling: low-resource langs repeat
      // deterministically (hash-fated extra copy), capped at 4×
      Curation.domainUpsample(docs(s, d), groupCol = "lang", maxRepeat = 4)
        .orderBy("doc_id", "copy_id")),
    "x_budget_select" -> ((s, d) =>
      // greedy best-quality prefix per lang under a running token budget
      Curation.budgetSelect(docs(s, d), groupCol = "lang",
        tokenBudget = 3000L)
        .orderBy("doc_id")),
    "x_dedup_substring" -> ((s, d) =>
      Dedup.sharedSpans(docs(s, d), k = 8, maxDf = 10, minShared = 3)
        .orderBy("d1", "d2")),
    "x_dedup_span_runs" -> ((s, d) =>
      Dedup.sharedSpanRuns(docs(s, d), k = 8, maxDf = 10, minRun = 2)
        .orderBy("d1", "d2")),
    "x_ngram_lm" -> ((s, d) =>
      // vocabSize = 20 < |corpus vocab| so the OOV floor path is real
      TextAnalysis.unigramLmScore(docs(s, d), vocabSize = 20)
        .orderBy("doc_id")),
    "x_pipeline_curate" -> ((s, d) =>
      Curation.curate(docs(s, d), k = 3, threshold = 0.8, quota = 50,
        trainPct = 80, valPct = 10, maxTokens = 50, stride = 25)
        .orderBy("doc_id", "chunk_id")),
    "x_join_bloom" -> ((s, d) => {
      // Bloom semi-join pruning in the declared surface: the large side
      // is filtered by a distributed-built sketch BEFORE its shuffle;
      // false positives die in the real equi-join, so the result is
      // row-identical to the plain join (which is the oracle)
      val orders = Tables(s, d, "orders")
      val vips = Tables(s, d, "customer")
        .filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      graft.operators.BloomPrune
        .prunedJoin(orders, vips, "o_custkey", expectedItems = 10000L)
        .select("o_orderkey", "o_custkey", "c_name")
        .orderBy("o_orderkey")
    }),
    "x_join_skew" -> ((s, d) => {
      // explicit salting for a pathologically skewed key (3 distinct
      // values over the whole fact table): the small side replicates
      // saltFactor times, the large side fans across (key, salt) — no
      // single reduce task owns a whole hot key
      val li = Tables(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      val flags = li.select(col("l_returnflag")).distinct()
        .withColumn("flag_tag", concat(lit("tag_"), col("l_returnflag")))
      graft.operators.SkewJoin.saltedJoin(li, flags, "l_returnflag")
        .groupBy("l_returnflag", "flag_tag")
        .agg(count(lit(1)).as("n"),
          Conventions.moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "x_surrogate_dense" -> ((s, d) =>
      // the no-single-partition surrogate-key scale path (range sort +
      // zipWithIndex offsets) — declared so the oracle proves it equals
      // the window form's dense 0-based assignment
      graft.operators.DenseId.withDenseId(
        docs(s, d).select("doc_id", "lang"),
        "dense_id", Seq(col("lang"), col("doc_id")))
        .orderBy("doc_id")),
    "x_join_bucket" -> ((s, d) => {
      // co-located layout: both sides bucketed+sorted on the join key,
      // so join AND the keyed aggregate run with zero exchanges (the
      // only exchange in the plan is the final ORDER BY) — pinned by
      // SinkSpec. The 100 TB lever for repeated fact⋈dim pipelines.
      val (ot, ct) = Sinks.ensureBucketedPair(s, d)
      s.table(ot)
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          Conventions.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("c_custkey")
    }),
    "x_vocab_build" -> ((s, d) =>
      // vocabSize=20 < |corpus vocabulary| so the frequency cutoff and
      // its (cnt desc, tok asc) tie-break are both exercised
      TextAnalysis.buildVocab(docs(s, d), vocabSize = 20)
        .orderBy("token_id")),
    "x_fingerprint_winnow" -> ((s, d) =>
      TextAnalysis.winnow(docs(s, d), k = 3, w = 4)
        .orderBy("doc_id", "pos")),
    "x_boilerplate_strip" -> ((s, d) =>
      // minDocs=4 strips ~25% of corpus tokens at sf0.01 — enough
      // coverage to exercise both the removal and the pass-through path
      TextAnalysis.boilerplateStrip(docs(s, d), n = 3, minDocs = 4)
        .orderBy("doc_id")),
    "x_data_card" -> ((s, d) =>
      TextAnalysis.dataCard(docs(s, d)).orderBy("source")),
    "x_embed_project" -> ((s, d) =>
      SimilaritySearch.signProject(vecs(s, d), inDim = 64, outDim = 8)
        .orderBy("vec_id")),
    "x_corpus_shuffle" -> ((s, d) =>
      Curation.corpusShuffle(docs(s, d)).orderBy("doc_id")),
    "x_inverted_index" -> ((s, d) =>
      // retrieval-prep posting lists: df over the full posting set,
      // lists capped at 16 docs via the two-phase top-N (stopword
      // postings never sort corpus-sized)
      TextAnalysis.invertedIndex(docs(s, d), maxPostings = 16)
        .orderBy("term")),
    "x_negative_sample" -> ((s, d) =>
      // contrastive negatives: hash-fated draws (no RNG), dense-id
      // equi-join materialization, self-draws dropped
      Curation.negativeSample(docs(s, d), k = 4)
        .orderBy("doc_id", "slot")),
    "x_bootstrap_ci" -> ((s, d) =>
      // Poisson bootstrap (one weighted-aggregation pass, no resample
      // materialization): 32 hash-fated replicates of mean
      // o_totalprice, summarized as an exact-interpolated 90% CI
      graft.operators.Stats
        .poissonBootstrapMeans(
          Tables(s, d, "orders"), "o_totalprice", "o_orderkey", reps = 32)
        .agg(count(lit(1)).as("n_reps"),
          round(expr("percentile(boot_mean, 0.05)"), 4).as("p05"),
          round(expr("percentile(boot_mean, 0.5)"), 4).as("p50"),
          round(expr("percentile(boot_mean, 0.95)"), 4).as("p95"))),
    "x_encode_ids" -> ((s, d) =>
      TextAnalysis.encodeIds(docs(s, d), vocabSize = 20)
        .orderBy("doc_id")),
    "x_nb_classify" -> ((s, d) =>
      TextAnalysis.nbClassify(docs(s, d)).orderBy("doc_id")),
    "x_knn_graph" -> ((s, d) =>
      // same LSH candidate pairs as x_dedup_embed, re-consumed as a
      // graph: symmetrize + per-vector top-3. The pair frame persists
      // because knnGraph reads it twice (both union branches)
      SimilaritySearch.knnGraph(
        SimilaritySearch
          .cosinePairsLsh(vecs(s, d), threshold = 0.4, nBits = 16,
            rowsPerBand = 2)
          .persist(),
        k = 3)
        .orderBy("src", "rank")),
    "x_snapshot_diff" -> ((s, d) => {
      // table-regression diff: the event log compacted to latest state
      // per (user, type) at a mid-month cutover vs at the end — which
      // keys appeared, which changed value ('removed' can't occur in an
      // append-only log; exercised by ChangeCaptureSpec instead)
      val ev = Tables(s, d, "events")
        .select("user_id", "event_type", "ts", "event_id", "value")
      graft.operators.ChangeCapture.snapshotDiff(
        ev.filter(expr("ts < timestamp'2024-01-16 00:00:00'")), ev,
        keyCols = Seq("user_id", "event_type"),
        versionCols = Seq("ts", "event_id"),
        valueCols = Seq("value"))
        .orderBy("user_id", "event_type")
    }),
    "x_quality_filter" -> ((s, d) =>
      Curation.perplexityFilter(docs(s, d), vocabSize = 20, keepFrac = 0.75)
        .orderBy("doc_id")),
    "x_profile_table" -> ((s, d) =>
      graft.operators.Profiling.profile(
        Tables(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
        .orderBy("column_name")),
    "x_embed_outlier" -> ((s, d) =>
      SimilaritySearch.embedOutliers(vecs(s, d), k = 5)
        .orderBy("label", "out_rank")),
    "x_graph_rank" -> ((s, d) =>
      // hub detection over the similarity graph: integer-fixed-point
      // PageRank (3 rounds) on the same k-NN edges as x_knn_graph
      graft.operators.GraphRank.pageRank(
        SimilaritySearch.knnGraph(
          SimilaritySearch
            .cosinePairsLsh(vecs(s, d), threshold = 0.4, nBits = 16,
              rowsPerBand = 2)
            .persist(),
          k = 3).select("src", "dst"),
        iterations = 3)
        .orderBy("id")),
    "x_heavy_cms" -> ((s, d) =>
      TextAnalysis.heavyHittersCms(docs(s, d), depth = 4, width = 64,
        topK = 10).orderBy("tok")),
    "x_sketch_rollup" -> ((s, d) => {
      // mergeable-sketch store (see graft.operators.SketchStore): HLL
      // sketches built once per (day, type) and PERSISTED; both the
      // per-type and grand-total distinct-user rollups are then
      // answered from the sketch table alone — the base events scan
      // below exists only to feed the bounded oracle's exact columns
      import graft.operators.SketchStore
      val ev = Tables(s, d, "events").select(
        to_date(col("ts")).as("event_date"),
        col("event_type"), col("user_id"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_sketch/" +
        s"store_${graft.CachePaths.tag(d)}"
      SketchStore.writeStore(
        SketchStore.buildSketches(
          ev, Seq("event_date", "event_type"), "user_id"), path)
      val store = SketchStore.readStore(s, path)
      val approx = SketchStore.rollup(store, Seq("event_type"))
        .unionByName(
          SketchStore.rollup(store, Nil)
            .withColumn("event_type", lit("__all__")))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"))
        .unionByName(
          ev.agg(countDistinct("user_id").as("n_users"))
            .withColumn("event_type", lit("__all__")))
      approx.join(exact, "event_type")
        .select(
          col("event_type"), col("n_sketches"),
          col(SketchStore.RowCountCol).as("n_events"), col("n_users"),
          (abs(col("approx_distinct") - col("n_users")).cast("double")
            / col("n_users") <= 0.05).as("approx_ok"))
        .orderBy("event_type")
    }),
    "x_sketch_setops" -> ((s, d) => {
      // the SET-ALGEBRA half of the sketch store (custom Theta
      // TypedImperativeAggregates — expressions/ThetaSketch.scala):
      // per-(day, type) theta sketches persisted; retention overlap
      // (purchasers active in BOTH month halves), churn (first half
      // only) and total reach are answered from the store by sketch
      // union + intersect + a-not-b — HLL can union but never
      // intersect, which is exactly why warehouses keep theta columns.
      // The base scan below feeds only the bounded oracle's exact side.
      import graft.operators.SketchStore
      val ev = Tables(s, d, "events").select(
        to_date(col("ts")).as("event_date"),
        col("event_type"), col("user_id"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_sketch/" +
        s"tstore_${graft.CachePaths.tag(d)}"
      SketchStore.writeStore(
        SketchStore.buildThetaSketches(
          ev, Seq("event_date", "event_type"), "user_id"), path)
      val store = SketchStore.readStore(s, path)
        .filter(col("event_type") === "purchase")
      // half-split cutoff: a 1-row driver scalar (the x_cdc_upsert
      // maxTs pattern) — the store's day grain makes it a partition
      // predicate on the sketch table, never a base rescan
      val minRow = store.agg(min(col("event_date"))).head()
      require(!minRow.isNullAt(0),
        "x_sketch_setops: sketch store has no purchase rows — " +
          "cannot place the half-split cutoff")
      val cut = java.sql.Date.valueOf(
        minRow.getDate(0).toLocalDate.plusDays(15))
      val est = store
        .agg(
          SketchStore.thetaUnionAgg(
            when(col("event_date") < lit(cut), col(SketchStore.TSketchCol)))
            .as("ska"),
          SketchStore.thetaUnionAgg(
            when(col("event_date") >= lit(cut), col(SketchStore.TSketchCol)))
            .as("skb"),
          SketchStore.thetaUnionAgg(col(SketchStore.TSketchCol)).as("skall"))
        .select(
          SketchStore.thetaEstimate(
            SketchStore.thetaIntersect(col("ska"), col("skb")))
            .as("retained"),
          SketchStore.thetaEstimate(
            SketchStore.thetaANotB(col("ska"), col("skb"))).as("churned"),
          SketchStore.thetaEstimate(col("skall")).as("reach"))
        .select(expr(
          "stack(3, 'churned', churned, 'reach', reach, " +
            "'retained', retained) AS (op, est)"))
      val p = ev.filter(col("event_type") === "purchase")
      val ua = p.filter(col("event_date") < lit(cut))
        .select("user_id").distinct()
      val ub = p.filter(col("event_date") >= lit(cut))
        .select("user_id").distinct()
      val exact = ua.except(ub).agg(count(lit(1)).as("n_users"))
        .withColumn("op", lit("churned"))
        .unionByName(ua.union(ub).distinct()
          .agg(count(lit(1)).as("n_users")).withColumn("op", lit("reach")))
        .unionByName(ua.intersect(ub)
          .agg(count(lit(1)).as("n_users")).withColumn("op", lit("retained")))
      est.join(exact, "op")
        .select(col("op"), col("n_users"),
          (abs(col("est") - col("n_users"))
            / greatest(col("n_users"), lit(1L)) <= 0.05).as("approx_ok"))
        .orderBy("op")
    }),
    "x_quantile_rollup" -> ((s, d) => {
      // the QUANTILE half of the sketch store (custom KLL
      // TypedImperativeAggregates — expressions/KllSketch.scala): per
      // (day, type) sketches persisted, p50/p95 rollups answered by
      // kll_union_agg over the store; verdict = the merged-sketch
      // estimate lands between the exact quantiles at rank ± 5%
      // (3× the k=200 error bound), exact percentiles hash-matched
      import graft.operators.SketchStore
      val ev = Tables(s, d, "events").select(
        to_date(col("ts")).as("event_date"),
        col("event_type"), col("value"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_sketch/" +
        s"qstore_${graft.CachePaths.tag(d)}"
      SketchStore.writeStore(
        SketchStore.buildQuantileSketches(
          ev, Seq("event_date", "event_type"), "value"), path)
      val store = SketchStore.readStore(s, path)
      val approx = SketchStore
        .quantileRollup(store, Seq("event_type"), Seq(0.5, 0.95))
        .unionByName(SketchStore
          .quantileRollup(store, Nil, Seq(0.5, 0.95))
          .withColumn("event_type", lit("__all__")))
      val qarr = "percentile(value, array(0.45, 0.5, 0.55, 0.90, 0.95, 1.0))"
      val exact = ev.groupBy("event_type").agg(expr(qarr).as("q"))
        .unionByName(
          ev.agg(expr(qarr).as("q"))
            .withColumn("event_type", lit("__all__")))
      approx.join(exact, "event_type")
        .select(
          col("event_type"), col("n_sketches"),
          col(SketchStore.RowCountCol).as("n_events"),
          round(col("q")(1), 4).as("p50"),
          round(col("q")(4), 4).as("p95"),
          (col("q_50").between(col("q")(0), col("q")(2)) &&
            col("q_95").between(col("q")(3), col("q")(5)))
            .as("approx_ok"))
        .orderBy("event_type")
    }),
    "x_freq_rollup" -> ((s, d) => {
      // the HEAVY-HITTERS half of the sketch store (custom Misra-Gries
      // TypedImperativeAggregates — expressions/FreqSketch.scala): per
      // LANGUAGE frequent-token sketches persisted; the corpus-wide
      // "tokens above 2% support" question is answered by union-merging
      // the 5 stored sketches and reading NO_FALSE_NEGATIVES items —
      // per-group top-k never merges into global top-k, which is
      // exactly why the candidate set travels WITH the counters. The
      // support threshold derives from the store's own n_rows (exact
      // stream lengths decompose); the base scan below feeds only the
      // bounded oracle's exact counts.
      import graft.operators.SketchStore
      val tok = Tables(s, d, "documents").select(
        col("lang"), explode(split(col("text"), " ")).as("tok"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_sketch/" +
        s"fstore_${graft.CachePaths.tag(d)}"
      SketchStore.writeStore(
        SketchStore.buildFreqSketches(tok, Seq("lang"), "tok"), path)
      val store = SketchStore.readStore(s, path)
      val items = store
        .agg(
          SketchStore.freqUnionAgg(col(SketchStore.FSketchCol)).as("fsk"),
          count(lit(1)).as("n_sketches"),
          sum(col(SketchStore.RowCountCol)).as("n_tokens"))
        // fail fast BY NAME if the corpus vocabulary ever outgrows the
        // sketch: the oracle's item-set equality holds only in exact
        // mode (max error 0 ⇒ NO_FALSE_NEGATIVES == exact HAVING set);
        // without this a grown test corpus would surface as an opaque
        // row-count diff instead of the violated assumption
        .where(assert_true(
          SketchStore.freqMaxError(col("fsk")) === 0,
          lit("x_freq_rollup precondition violated: merged freq sketch " +
            "left exact mode (corpus vocabulary >= maxMapSize), so the " +
            "NO_FALSE_NEGATIVES item set may exceed the exact HAVING set"))
          .isNull)
        .select(col("n_sketches"),
          explode(SketchStore.freqTopItems(col("fsk"),
            floor(col("n_tokens") * 0.02))).as("f"))
        .select(col("f.item").as("tok"), col("n_sketches"),
          col("f.lb"), col("f.ub"))
      val exact = tok.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      items.join(exact, "tok")
        .select(col("tok"), col("n_sketches"), col("exact_cnt"),
          (col("lb") <= col("exact_cnt") && col("exact_cnt") <= col("ub"))
            .as("approx_ok"))
        .orderBy("tok")
    }),
    "x_pipeline_prepare" -> ((s, d) =>
      // the quality-side composition: perplexity filter → boilerplate
      // strip (df over the filtered corpus) → chunk, one lineage
      Curation.prepare(docs(s, d), vocabSize = 20, keepFrac = 0.75,
        n = 3, minDocs = 4, maxTokens = 30, stride = 30)
        .orderBy("doc_id", "chunk_id")),
    "x_pipeline_tokenize" -> ((s, d) =>
      // the encode-and-pack composition: shared vocab build → per-doc
      // id-sequence checksums → context-window packing, one lineage
      Curation.tokenize(docs(s, d), vocabSize = 50, budget = 256)
        .orderBy("doc_id")),
    "x_join_fuzzy" -> ((s, d) => {
      // entity resolution: nation names with a deterministic one-char
      // deletion (at position key mod length) matched back to the
      // clean dimension by blocked bigram Jaccard — no key equality
      val nat = Tables(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val pos = "CAST(n_nationkey % length(n_name) AS INT)"
      val dirty = nat.select(
        col("n_nationkey").as("d_key"),
        expr(s"concat(substring(n_name, 1, $pos), " +
          s"substring(n_name, $pos + 2))").as("d_name"))
      graft.operators.FuzzyMatch.bestMatch(
        dirty, nat, "d_key", "d_name", "n_nationkey", "n_name",
        k = 2, threshold = 0.3)
        .orderBy("d_key")
    }),
    "x_bpe_train" -> ((s, d) => {
      // tokenizer training: 5 BPE merges learned from the word-frequency
      // vocabulary; the merge table (one bounded row per iteration) is
      // the query result
      import s.implicits._
      graft.operators.Bpe.train(
        graft.operators.Bpe.wordVocab(docs(s, d)), iterations = 5)
        .toDF().orderBy("iteration")
    }),
    "x_bpe_segment" -> ((s, d) => {
      // the apply side: segment the vocabulary with the learned merges —
      // chained row-local double-replaces, no shuffle after training
      val vocab = graft.operators.Bpe.wordVocab(docs(s, d))
      graft.operators.Bpe.segment(
          vocab, graft.operators.Bpe.train(vocab, iterations = 5))
        .select(col("word"), col("freq"),
          col("n_symbols").cast("long").as("n_symbols"), col("segmented"))
        .orderBy("word")
    }),
    "x_contamination_ngram" -> ((s, d) => {
      // exact 5-gram decontamination over the same train/eval split as
      // x_contamination: df-capped gram streams, eval-side Bloom prune
      // before the exchange, exact equi-join overlap counts
      val dd = docs(s, d)
      val sides = dd.join(
        Curation.hashSplit(dd, trainPct = 80, valPct = 10)
          .select(col("doc_id"), col("split")), "doc_id")
      Dedup.ngramOverlap(
        sides.filter(col("split") === "train"),
        sides.filter(col("split") =!= "train"),
        n = 5, minShared = 3L, maxDf = 20L,
        bloomExpectedItems = 1L << 17)
        .orderBy("train_id", "eval_id")
    }),
    "x_expect_constraints" -> ((s, d) => {
      // Deequ-style admission gate over a batch: 4 single-scan
      // aggregate constraints + 1 anti-join referential check; the
      // range and accepted-values constraints are tuned to FAIL on
      // this data so both verdict paths are exercised
      import graft.operators.Expectations._
      validate(Tables(s, d, "orders"), Seq(
        NotNull("completeness_custkey", "o_custkey"),
        Unique("uniqueness_orderkey", "o_orderkey"),
        InRange("range_totalprice", "o_totalprice", 0d, 450000d),
        InSet("accepted_status", "o_orderstatus", Seq("O", "F")),
        RefIntegrity("ri_custkey", "o_custkey",
          Tables(s, d, "customer"), "c_custkey")))
        .orderBy("check_name")
    }),
    "x_split_leakage" -> ((s, d) => {
      // cluster-aware train/test split: near-dup clusters must not
      // straddle splits, so the split key is the cluster REPRESENTATIVE
      // (singletons are their own rep) rather than the doc — shown next
      // to the naive per-doc split and a per-cluster leakage audit of it
      val dd = docs(s, d)
      val cl = Dedup.clusters(
        Dedup.nearDupMinHash(dd, k = 3, threshold = 0.8))
      val withRep = dd.select("doc_id")
        .join(cl.select(col("doc_id"), col("rep_id")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      val naive = Curation.hashSplit(dd)
        .select(col("doc_id"), col("split").as("naive_split"))
      val cb = graft.functions.Hashing.hash32(
        concat(lit("csplit:"), col("rep_id").cast("string"))) % 100
      val w = org.apache.spark.sql.expressions.Window.partitionBy("rep_id")
      withRep.join(naive, "doc_id")
        .withColumn("split",
          when(cb < 80, "train").when(cb < 90, "val").otherwise("test"))
        .withColumn("cluster_leaky",
          min("naive_split").over(w) =!= max("naive_split").over(w))
        .select("doc_id", "rep_id", "split", "naive_split", "cluster_leaky")
        .orderBy("doc_id")
    }),
    "x_entity_resolve" -> ((s, d) => {
      // full entity resolution: gram-blocked fuzzy pairs → connected
      // components → canonical entity id per record. Entity universe =
      // distinct part names (id = min partkey); dirty records add the
      // x_join_fuzzy deterministic one-char deletion at id offset 10000
      val clean = Tables(s, d, "part")
        .groupBy(col("p_name").as("name"))
        .agg(min("p_partkey").as("rec_id"))
        .select(col("rec_id"), col("name"))
      val pos = "CAST(rec_id % length(name) AS INT)"
      val dirty = clean.select(
        (col("rec_id") + 10000L).as("rec_id"),
        expr(s"concat(substring(name, 1, $pos), " +
          s"substring(name, $pos + 2))").as("name"))
      val records = clean.unionByName(dirty)
      val cl = Dedup.clusters(graft.operators.FuzzyMatch.matchPairs(
        records, "rec_id", "name", k = 2, threshold = 0.6))
      records
        .join(cl.select(col("doc_id").as("rec_id"), col("rep_id"),
          col("cluster_size")), Seq("rec_id"), "left")
        .select(col("rec_id"), col("name"),
          coalesce(col("rep_id"), col("rec_id")).as("entity_id"),
          coalesce(col("cluster_size"), lit(1L)).as("entity_size"))
        .orderBy("rec_id")
    }))

  /** Shared oracle fragments (DuckDB SQL). */
  private val hash32 = (e: String) =>
    s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"
  /** The BMP aHash chain (packer payload re-derived arithmetically;
    * ASCII precondition pinned by TierXSpec) — ends with CTEs
    * `bmp(doc_id, text, n_chars, width, height)` and
    * `hx(doc_id, ahash32)`. Shared by x_image_phash / x_phash_pairs. */
  private val phashCte =
    """bmp AS (SELECT doc_id, text, n_chars,
      |        CAST((n_chars % 640) + 1 AS BIGINT) AS width,
      |        CAST((doc_id % 480) + 1 AS BIGINT) AS height
      |      FROM documents WHERE doc_id % 5 = 0),
      |ch AS (SELECT doc_id, i - 1 AS j,
      |        ascii(substr(text, CAST(i AS INT), 1)) AS v,
      |        n_chars AS l
      |       FROM bmp, unnest(range(1, CAST(n_chars AS INT) + 1)) t(i)),
      |bl AS (SELECT doc_id, (j * 32) // l AS blk,
      |        sum(v) AS s, count(1) AS c
      |       FROM ch GROUP BY 1, 2),
      |g AS (SELECT doc_id, sum(v) // max(l) AS gmean FROM ch GROUP BY 1),
      |hx AS (SELECT bl.doc_id,
      |        CAST(sum(CASE WHEN s // c > g.gmean
      |                 THEN CAST(1 AS BIGINT) << blk ELSE 0 END)
      |             AS BIGINT) AS ahash32
      |       FROM bl JOIN g USING (doc_id) GROUP BY 1)""".stripMargin
  /** 64-block variant of [[phashCte]] over source relation `src` —
    * same chain with 64 pixel blocks; the bit sum runs in HUGEINT
    * (DuckDB's BIGINT `<< 63` overflow-checks) and folds back to the
    * two's-complement BIGINT the Spark side emits (bit 63 = the long's
    * sign bit). Ends with `hx(doc_id, ahash64)`. */
  private def phashCte64From(src: String) =
    s"""bmp AS (SELECT doc_id, text, n_chars,
      |        CAST((n_chars % 640) + 1 AS BIGINT) AS width,
      |        CAST((doc_id % 480) + 1 AS BIGINT) AS height
      |      FROM $src WHERE doc_id % 5 = 0),
      |ch AS (SELECT doc_id, i - 1 AS j,
      |        ascii(substr(text, CAST(i AS INT), 1)) AS v,
      |        n_chars AS l
      |       FROM bmp, unnest(range(1, CAST(n_chars AS INT) + 1)) t(i)),
      |bl AS (SELECT doc_id, (j * 64) // l AS blk,
      |        sum(v) AS s, count(1) AS c
      |       FROM ch GROUP BY 1, 2),
      |g AS (SELECT doc_id, sum(v) // max(l) AS gmean FROM ch GROUP BY 1),
      |hu AS (SELECT bl.doc_id,
      |        sum(CASE WHEN s // c > g.gmean
      |            THEN CAST(1 AS HUGEINT) << blk ELSE 0 END) AS v
      |       FROM bl JOIN g USING (doc_id) GROUP BY 1),
      |hx AS (SELECT doc_id,
      |        CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
      |             THEN v - 18446744073709551616::HUGEINT ELSE v END
      |             AS BIGINT) AS ahash64
      |       FROM hu)""".stripMargin
  private def shinglesCteFrom(src: String) =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |       THEN list_distinct([array_to_string(list_slice(w, i, i + 2), ' ')
      |                           for i in range(1, len(w) - 1)])
      |       ELSE [array_to_string(w, ' ')] END AS shingles
      |FROM w)""".stripMargin
  private val shinglesCte = shinglesCteFrom("documents")
  /** MinHash banded-LSH candidate pairs with exact-Jaccard stats — the
    * full chain behind `x_dedup_minhash`, shared with `x_dedup_cluster`
    * (which runs connected components over the same pair set) and the
    * composed `x_pipeline_curate` (which runs it over the exact-dedup
    * survivors). Ends with CTE `jx(d1, d2, inter, la, lb)`. */
  private def minhashPairsCteFrom(src: String) =
    s"""${shinglesCteFrom(src)},
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |hw AS (SELECT doc_id, ${hash32("s")} AS h1,
      |              ${hash32("'1:' || s")} AS h2 FROM ex),
      |hx AS (SELECT doc_id, j,
      |         min((h1 + j * h2) % 4294967296) AS mh
      |       FROM hw, range(16) t(j) GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
      |            string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS key
      |          FROM hx GROUP BY doc_id, j // 4),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM bands a JOIN bands b
      |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |jx AS (SELECT d1, d2,
      |         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
      |         len(sa.shingles) AS la, len(sb.shingles) AS lb
      |       FROM cand
      |       JOIN sh sa ON cand.d1 = sa.doc_id
      |       JOIN sh sb ON cand.d2 = sb.doc_id)""".stripMargin
  private val minhashPairsCte = minhashPairsCteFrom("documents")
  /** Cross-corpus (train vs held-out) MinHash contamination chain —
    * the x_contamination oracle's WITH body, shared with the streaming
    * gate's oracle (`x_stream_decontam` in [[TierS]]: the per-batch
    * gate against the frozen eval index must drop exactly these hits).
    * Ends with `sp(doc_id, is_train)` and
    * `jx(d1 train, d2 held-out, inter, la, lb)`. */
  private[queries] val crossContamCte: String =
    s"""$shinglesCte,
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |hw AS (SELECT doc_id, ${hash32("s")} AS h1,
      |              ${hash32("'1:' || s")} AS h2 FROM ex),
      |hx AS (SELECT doc_id, j,
      |         min((h1 + j * h2) % 4294967296) AS mh
      |       FROM hw, range(16) t(j) GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
      |            string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS key
      |          FROM hx GROUP BY doc_id, j // 4),
      |sp AS (SELECT doc_id,
      |         ${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 AS is_train
      |       FROM documents),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM bands a JOIN sp sa ON a.doc_id = sa.doc_id
      |              JOIN bands b ON a.band = b.band AND a.key = b.key
      |              JOIN sp sb ON b.doc_id = sb.doc_id
      |         WHERE sa.is_train AND NOT sb.is_train),
      |jx AS (SELECT d1, d2,
      |         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
      |         len(sa.shingles) AS la, len(sb.shingles) AS lb
      |       FROM cand
      |       JOIN sh sa ON cand.d1 = sa.doc_id
      |       JOIN sh sb ON cand.d2 = sb.doc_id)""".stripMargin

  private val dotSql = (a: String, b: String) =>
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) " +
      s"for i in range(1, len($a) + 1)])"
  private val cosSql = (a: String, b: String) =>
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** One MMR greedy step in DuckDB, mirroring
    * [[graft.operators.SimilaritySearch.mmrRerank]] bit-for-bit:
    * remaining candidates (NOT EXISTS in sel<i-1>) joined to their
    * sims against the selected set, max-sim penalty, integer score
    * rel_e6 − pen_e6, argmax with the (score desc, vec_id asc)
    * tie-break. Emits pick<i> and sel<i> = sel<i-1> ∪ pick<i>.
    * Reads CTEs `mcand` (q_id, vec_id, rel_e6) and `mps`
    * (q_id, c1, c2, sim_e6). */
  private def mmrStepSql(i: Int): String = {
    val prev = s"sel${i - 1}"
    // MATERIALIZED is load-bearing, not a hint: sel<i> references
    // sel<i-1> three times (twice in pick<i>, once in the union), so
    // DuckDB's default CTE inlining re-evaluates the chain ~3^k times —
    // with a heavy upstream candidate chain (x_mmr_serving's IVF+PQ
    // CTEs) that blows a sub-second oracle into minutes
    s"""pick$i AS MATERIALIZED (SELECT q_id, CAST($i AS BIGINT) AS sel_rank, vec_id, rel_e6, score_e6
      |  FROM (SELECT t.*, row_number() OVER (PARTITION BY t.q_id
      |                ORDER BY t.score_e6 DESC, t.vec_id) AS r
      |        FROM (SELECT c.q_id, c.vec_id, c.rel_e6,
      |                     c.rel_e6 - max(p.sim_e6) AS score_e6
      |              FROM mcand c
      |              JOIN mps p ON p.q_id = c.q_id AND p.c1 = c.vec_id
      |              JOIN $prev s ON s.q_id = p.q_id AND s.vec_id = p.c2
      |              WHERE NOT EXISTS (SELECT 1 FROM $prev x
      |                WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
      |              GROUP BY c.q_id, c.vec_id, c.rel_e6) t)
      |  WHERE r = 1),
      |sel$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL
      |          SELECT q_id, sel_rank, vec_id, rel_e6, score_e6 FROM pick$i)""".stripMargin
  }

  /** One BPE training iteration in DuckDB, mirroring
    * [[graft.operators.Bpe.train]] bit-for-bit: adjacent-pair weighted
    * counts over the DOUBLE-space-joined symbol strings, argmax with
    * the (w desc, pair asc) tie-break, then ONE leftmost-greedy replace
    * of `" a  s "` with `" as "` — each match keeps one space of both
    * two-space boundaries, so the replace IS the canonical
    * left-to-right non-overlapping merge fold, self-pairs included.
    * Emits CTEs p_<out>, m_<out>, <out>. */
  private def bpeIterSql(prev: String, out: String): String =
    s"""p_$out AS (SELECT pair, sum(freq) AS w FROM (
      |    SELECT freq, unnest([s[i] || ' ' || s[i + 1]
      |        for i in range(1, len(s))]) AS pair
      |    FROM (SELECT freq, string_split(trim(syms), '  ') AS s FROM $prev))
      |  GROUP BY pair),
      |m_$out AS (SELECT pair, replace(pair, ' ', '') AS merged, w
      |  FROM p_$out ORDER BY w DESC, pair LIMIT 1),
      |$out AS (SELECT word, freq,
      |    replace(v.syms, ' ' || replace(m.pair, ' ', '  ') || ' ',
      |            ' ' || m.merged || ' ') AS syms
      |  FROM $prev v CROSS JOIN m_$out m)""".stripMargin

  /** Word-frequency vocab + char-symbol init (v0) shared by the two BPE
    * oracles, then 5 unrolled training iterations v1..v5. */
  private val bpeTrainCte: String =
    s"""vocab AS (SELECT w AS word, count(1) AS freq
      |          FROM (SELECT unnest(string_split(text, ' ')) AS w
      |                FROM documents)
      |          WHERE w <> '' GROUP BY w),
      |v0 AS (SELECT word, freq,
      |         '  ' || array_to_string(
      |           [word[i] for i in range(1, length(word) + 1)], '  ')
      |         || '  ' AS syms
      |       FROM vocab),
      |${(0 until 5).map(i => bpeIterSql(s"v$i", s"v${i + 1}"))
        .mkString(",\n")}""".stripMargin

  /** One Lloyd round in DuckDB over corpus CTE `corpus` (vec_id,
    * embedding), mirroring
    * [[graft.operators.SimilaritySearch.trainIvfCentroids]] bit-for-bit:
    * nearest-centroid assignment (ties → lowest c_id), exact 1e-6
    * fixed-point element sums, double division, float cast; empty cells
    * keep their centroid. Emits CTEs a_<out>, m_<out>, <out>.
    * `x_sim_ivf` binds the full corpus; the PQ oracle binds each
    * subvector slice. */
  private def kmeansIterSqlOn(corpus: String)(
      prev: String, out: String): String =
    s"""a_$out AS (SELECT vec_id, c_id AS cell FROM (
      |  SELECT v.vec_id, c.c_id,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY (${dotSql("v.embedding", "c.c_vec")} /
      |                sqrt(${dotSql("c.c_vec", "c.c_vec")})) DESC, c.c_id) AS r
      |  FROM $corpus v CROSS JOIN $prev c) WHERE r = 1),
      |m_$out AS (SELECT a.cell, u.pos AS pos,
      |    sum(CAST(round(CAST(u.v AS DOUBLE) * 1000000.0) AS BIGINT)) AS s,
      |    count(1) AS n
      |  FROM a_$out a JOIN $corpus v USING (vec_id),
      |       unnest([{'pos': i, 'v': v.embedding[CAST(i + 1 AS INT)]}
      |               for i in range(0, len(v.embedding))]) t(u)
      |  GROUP BY 1, 2),
      |$out AS (SELECT p.c_id, COALESCE(cm.c_vec, p.c_vec) AS c_vec
      |  FROM $prev p LEFT JOIN (
      |    SELECT cell AS c_id,
      |      list(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS FLOAT)
      |           ORDER BY pos) AS c_vec
      |    FROM m_$out GROUP BY cell) cm USING (c_id))""".stripMargin

  private def kmeansIterSql(prev: String, out: String): String =
    kmeansIterSqlOn("e")(prev, out)

  /** Seed + 2 Lloyd rounds + final assignment for ONE PQ subspace over
    * corpus CTE `corpus` (vec_id, embedding = the subvector slice);
    * emits `codes_<tag>` (vec_id, code). Mirrors the Spark side's
    * trainIvfCentroids-on-sliced-frame composition exactly. */
  private def pqSubspaceSql(corpus: String, tag: String, k: Int): String = {
    val iter = kmeansIterSqlOn(corpus) _
    s"""c0_$tag AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS c_id,
      |                embedding AS c_vec
      |         FROM (SELECT vec_id, embedding,
      |                      ${hash32("CAST(vec_id AS VARCHAR)")} AS h
      |               FROM $corpus ORDER BY h, vec_id LIMIT $k) t),
      |${iter(s"c0_$tag", s"c1_$tag")},
      |${iter(s"c1_$tag", s"c2_$tag")},
      |codes_$tag AS (SELECT vec_id, CAST(c_id AS BIGINT) AS code FROM (
      |  SELECT v.vec_id, c.c_id,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY (${dotSql("v.embedding", "c.c_vec")} /
      |                sqrt(${dotSql("c.c_vec", "c.c_vec")})) DESC, c.c_id) AS r
      |  FROM $corpus v CROSS JOIN c2_$tag c) WHERE r = 1)""".stripMargin
  }

  /** The IVF+PQ scored-candidate chain (e → trained coarse quantizer →
    * cells/probes at nProbe = 2 → per-subspace PQ codebooks/codes →
    * exact-e6 ADC LUTs → `sc` (q_id, vec_id, cell, adc_e6)), shared by
    * `x_sim_ivf_pq` (final top-5 rank) and `x_mmr_serving` (top-20
    * pool + greedy MMR steps) — mirrors
    * [[graft.operators.SimilaritySearch.ivfPqTopK]] bit-for-bit. */
  private lazy val ivfPqScoredCte: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS c_id,
      |                embedding AS c_vec
      |         FROM (SELECT vec_id, embedding,
      |                      ${hash32("CAST(vec_id AS VARCHAR)")} AS h
      |               FROM embeddings ORDER BY h, vec_id LIMIT 8) t),
      |${kmeansIterSql("c0", "c1")},
      |${kmeansIterSql("c1", "c2")},
      |cn AS (SELECT c_id, c_vec, sqrt(${dotSql("c_vec", "c_vec")}) AS c_nrm FROM c2),
      |asg AS (SELECT v.vec_id, c.c_id,
      |          row_number() OVER (PARTITION BY v.vec_id
      |            ORDER BY (${dotSql("v.embedding", "c.c_vec")} / c.c_nrm) DESC, c.c_id) AS c_rank
      |        FROM e v CROSS JOIN cn c),
      |cells AS (SELECT vec_id, c_id AS cell FROM asg WHERE c_rank = 1),
      |iprobes AS (SELECT vec_id AS q_id, c_id AS cell FROM asg
      |            WHERE vec_id < 5 AND c_rank <= 2),
      |s1 AS (SELECT vec_id,
      |              list_slice(embedding, 1, len(embedding) // 2)
      |                AS embedding
      |            FROM embeddings),
      |s2 AS (SELECT vec_id,
      |         list_slice(embedding, len(embedding) // 2 + 1,
      |                    len(embedding)) AS embedding
      |       FROM embeddings),
      |${pqSubspaceSql("s1", "q0", 16)},
      |${pqSubspaceSql("s2", "q1", 16)},
      |codes AS (SELECT a.vec_id, a.code AS code0, b.code AS code1,
      |                 cells.cell
      |          FROM codes_q0 a JOIN codes_q1 b USING (vec_id)
      |               JOIN cells USING (vec_id)),
      |q AS (SELECT vec_id AS q_id,
      |        list_slice(embedding, 1, len(embedding) // 2) AS q0,
      |        list_slice(embedding, len(embedding) // 2 + 1,
      |                   len(embedding)) AS q1
      |      FROM embeddings WHERE vec_id < 5),
      |lut0 AS (SELECT q.q_id, c.c_id,
      |           CAST(round(${dotSql("q.q0", "c.c_vec")} * 1000000.0)
      |                AS BIGINT) AS d
      |         FROM q CROSS JOIN c2_q0 c),
      |lut1 AS (SELECT q.q_id, c.c_id,
      |           CAST(round(${dotSql("q.q1", "c.c_vec")} * 1000000.0)
      |                AS BIGINT) AS d
      |         FROM q CROSS JOIN c2_q1 c),
      |sc AS MATERIALIZED (SELECT p.q_id, codes.vec_id, codes.cell,
      |              l0.d + l1.d AS adc_e6
      |       FROM iprobes p
      |            JOIN codes ON codes.cell = p.cell
      |            JOIN lut0 l0 ON l0.q_id = p.q_id
      |                        AND l0.c_id = codes.code0
      |            JOIN lut1 l1 ON l1.q_id = p.q_id
      |                        AND l1.c_id = codes.code1
      |       WHERE codes.vec_id <> p.q_id)""".stripMargin

  /** Shared by `x_dedup_simhash64` and `x_dedup_simhash64p`: both
    * blocking schemes have exact recall at Hamming ≤ 6 and verify the
    * true 64-bit distance, so their outputs are identical by
    * construction — one ground truth covers both. */
  private val simhash64Oracle =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |th AS (SELECT doc_id, ${hash32("t")} AS ha,
      |              ${hash32("'1:' || t")} AS hb FROM tok),
      |bitsA AS (SELECT doc_id, b,
      |            CASE WHEN sum(CASE WHEN (ha >> CAST(b AS INT)) & 1 = 1
      |                               THEN 1 ELSE -1 END) >= 0
      |                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      |          FROM th, range(32) r(b) GROUP BY doc_id, b),
      |bitsB AS (SELECT doc_id, b,
      |            CASE WHEN sum(CASE WHEN (hb >> CAST(b AS INT)) & 1 = 1
      |                               THEN 1 ELSE -1 END) >= 0
      |                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      |          FROM th, range(32) r(b) GROUP BY doc_id, b),
      |sim AS (SELECT a.doc_id,
      |          CAST(a.sim_lo AS BIGINT) AS sim_lo,
      |          CAST(b.sim_hi AS BIGINT) AS sim_hi
      |        FROM (SELECT doc_id, sum(bit << CAST(b AS INT)) AS sim_lo
      |              FROM bitsA GROUP BY doc_id) a
      |        JOIN (SELECT doc_id, sum(bit << CAST(b AS INT)) AS sim_hi
      |              FROM bitsB GROUP BY doc_id) b USING (doc_id)),
      |blk AS (SELECT doc_id, sim_lo, sim_hi, t,
      |          ((CASE WHEN wrd = 0 THEN sim_lo ELSE sim_hi END) >> off) & mask AS key
      |        FROM sim, (VALUES (0,0,0,255),(1,0,8,255),(2,0,16,255),(3,0,24,255),
      |                          (4,1,0,2047),(5,1,11,2047),(6,1,22,1023))
      |                   b(t, wrd, off, mask)),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |                a.sim_lo AS l1, a.sim_hi AS h1,
      |                b.sim_lo AS l2, b.sim_hi AS h2
      |         FROM blk a JOIN blk b
      |         ON a.t = b.t AND a.key = b.key AND a.doc_id < b.doc_id)
      |SELECT d1, d2,
      |       CAST(bit_count(xor(l1, l2)) + bit_count(xor(h1, h2)) AS BIGINT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(l1, l2)) + bit_count(xor(h1, h2)) <= 6
      |ORDER BY d1, d2""".stripMargin

  /** Banded sign-LSH embedding near-dup candidate chain, ending with
    * CTE `p(v1, v2, cos_raw)` — shared by `x_dedup_embed` and the
    * clustered `x_dedup_embed_cluster`. */
  private val embedPairsCte =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
      |probes AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS p_id,
      |                  embedding AS p_vec
      |           FROM (SELECT vec_id, embedding FROM embeddings
      |                 ORDER BY vec_id LIMIT 16) t),
      |dots AS (SELECT v.vec_id, p.p_id,
      |           ${dotSql("v.embedding", "p.p_vec")} AS d
      |         FROM e v CROSS JOIN probes p),
      |bits AS (SELECT vec_id,
      |           string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
      |                      ORDER BY p_id) AS bits
      |         FROM dots GROUP BY vec_id),
      |banded AS (SELECT vec_id, b AS band,
      |             substr(bits, CAST(b AS INT) * 2 + 1, 2) AS key
      |           FROM bits, range(8) r(b)),
      |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
      |         FROM banded a JOIN banded b
      |         ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
      |p AS (SELECT v1, v2, ${cosSql("ea.embedding", "eb.embedding")} AS cos_raw
      |      FROM cand JOIN e ea ON cand.v1 = ea.vec_id
      |                JOIN e eb ON cand.v2 = eb.vec_id)""".stripMargin

  private[queries] val clusterOracle =
    s"""WITH RECURSIVE $minhashPairsCte,
      |mp AS (SELECT d1, d2 FROM jx
      |       WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
      |edges AS (SELECT d1 AS a, d2 AS b FROM mp
      |          UNION SELECT d2, d1 FROM mp),
      |reach(id, x) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.x = e.a),
      |lab AS (SELECT id, least(id, min(x)) AS rep_id FROM reach GROUP BY id),
      |sz AS (SELECT rep_id, count(1) AS cluster_size FROM lab GROUP BY rep_id)
      |SELECT lab.id AS doc_id, lab.rep_id, sz.cluster_size
      |FROM lab JOIN sz USING (rep_id) ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_dedup_simhash64p" -> simhash64Oracle,
    // compaction re-blocks bytes, never rows: the compacted landing
    // must read back as exactly the raw table
    "x_maint_compact" ->
      """SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events ORDER BY event_id""".stripMargin,
    // snapshot-isolated variant: same invariant — the compacted
    // generation reads back as exactly the raw table
    "x_maint_compact_gen" ->
      """SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events ORDER BY event_id""".stripMargin,
    // data skipping is advisory metadata: the pruned scan must answer
    // exactly as the filtered raw table (the pruning is visible only
    // in the files-read count, which the query itself asserts)
    "x_maint_stats_skip" ->
      """WITH mx AS (SELECT max(event_id) AS m FROM events)
        |SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events, mx
        |WHERE event_id BETWEEN m // 5 AND 7 * m // 20
        |ORDER BY event_id""".stripMargin,
    // planner pruning must be invisible in the answer: the filtered
    // raw table, exactly as the explicit-API variant
    "x_maint_stats_auto" ->
      """WITH mx AS (SELECT max(event_id) AS m FROM events)
        |SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events, mx
        |WHERE event_id BETWEEN 3 * m // 5 AND 3 * m // 4
        |ORDER BY event_id""".stripMargin,
    // upsert semantics: source rows (localized updates + new keys)
    // win on key collision; every other row carries over untouched
    "x_maint_merge" ->
      """WITH mx AS (SELECT max(event_id) AS m FROM events),
        |t AS (SELECT event_id, user_id, event_type, value,
        |             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |      FROM events),
        |s AS (
        |  SELECT event_id, user_id, 'updated' AS event_type,
        |         value * 2 AS value, ts_s
        |  FROM t, mx
        |  WHERE event_id BETWEEN m // 10 AND m // 5 AND event_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, 'inserted',
        |         value + 1, ts_s
        |  FROM t, mx
        |  WHERE event_id BETWEEN 3 * m // 10 AND 2 * m // 5
        |    AND event_id % 37 = 0)
        |SELECT event_id, user_id, event_type, value, ts_s FROM s
        |UNION ALL
        |SELECT t.event_id, t.user_id, t.event_type, t.value, t.ts_s
        |FROM t WHERE NOT EXISTS
        |  (SELECT 1 FROM s WHERE s.event_id = t.event_id)
        |ORDER BY event_id""".stripMargin,
    // the delete is invisible except for the purged band: the raw
    // table minus the 5%-band %5 keys
    "x_maint_delete" ->
      """WITH mx AS (SELECT max(event_id) AS m FROM events)
        |SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events, mx
        |WHERE NOT (event_id BETWEEN 6 * m // 10 AND 6 * m // 10 + m // 20
        |           AND event_id % 5 = 0)
        |ORDER BY event_id""".stripMargin,
    // the published state = baseline commit + the clean candidate (the
    // corrupted slice event_id % 7 = 0 was aborted at audit, so it
    // must be absent) — recomputed from the raw table
    "x_maint_wap" ->
      """SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events
        |WHERE event_id % 3 = 0
        |   OR (event_id % 3 = 1 AND event_id % 7 <> 0)
        |ORDER BY event_id""".stripMargin,
    // both snapshots recomputed from the raw table under the EVOLVED
    // schema: gen 3 is the full frame with the rename + added column
    // applied; pre-evolution gen 1 (event_id % 3 = 0) presents value
    // as amount and a typed-null source — the manifest-resolved
    // forward reconciliation readGen performs
    "x_maint_schema_evolve" ->
      """SELECT 3 AS gen, event_id, event_type, value AS amount,
        |       'src_' || event_type AS source
        |FROM events
        |UNION ALL
        |SELECT 1 AS gen, event_id, event_type, value AS amount,
        |       CAST(NULL AS VARCHAR) AS source
        |FROM events WHERE event_id % 3 = 0
        |ORDER BY gen, event_id""".stripMargin,
    // after the rollback-to-gen-2 + keep-2 vacuum, the current read is
    // the cumulative state over batches 0-1 (event_id % 3 <= 1) —
    // recomputed here from the raw table
    "x_maint_timetravel" ->
      s"""SELECT event_type, count(1) AS n,
        |       ${moneySumSql("value")} AS total
        |FROM events WHERE event_id % 3 <= 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_join_bloom" ->
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "x_join_skew" ->
      s"""SELECT l_returnflag, 'tag_' || l_returnflag AS flag_tag,
        |       count(1) AS n, ${moneySumSql("l_quantity")} AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "x_surrogate_dense" ->
      """SELECT doc_id, lang,
        |       row_number() OVER (ORDER BY lang, doc_id) - 1 AS dense_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_inverted_index" ->
      """WITH tok AS (SELECT DISTINCT doc_id, t AS term
        |             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |                   FROM documents)
        |             WHERE t <> ''),
        |dfc AS (SELECT term, count(1) AS df FROM tok GROUP BY term),
        |r AS (SELECT doc_id, term,
        |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |      FROM tok)
        |SELECT term, df,
        |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM r JOIN dfc USING (term)
        |WHERE rn <= 16
        |GROUP BY term, df ORDER BY term""".stripMargin,
    // Poisson bootstrap re-derived end-to-end: the same md5 draw (one
    // digest seeds FOUR replicate lanes via hex-substring extraction,
    // mirroring the Spark side), the same shared Poisson(1) CDF double
    // literals, scaled-integer weighted sums, quantile_cont == Spark's
    // exact percentile
    "x_bootstrap_ci" ->
      """WITH w AS (
        |  SELECT c.i * 4 + j.i AS b, o.o_totalprice,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS wt
        |  FROM (SELECT o_totalprice, o_orderkey FROM orders) o
        |       CROSS JOIN range(8) c(i)
        |       CROSS JOIN LATERAL (SELECT
        |         md5('boot:' || CAST(c.i AS VARCHAR) || ':'
        |             || CAST(o.o_orderkey AS VARCHAR)) AS hh) hx
        |       CROSS JOIN range(4) j(i)
        |       CROSS JOIN LATERAL (SELECT
        |         CAST(('0x' || substr(hx.hh, j.i * 8 + 1, 8)) AS BIGINT)
        |           / 4294967296.0 AS u) h),
        |m AS (SELECT b, sum(wt) AS n_eff,
        |        CAST(sum(wt * CAST(round(o_totalprice * 1000000.0) AS BIGINT))
        |             AS DOUBLE) / 1000000.0 / sum(wt) AS boot_mean
        |      FROM w GROUP BY b)
        |SELECT count(1) AS n_reps,
        |       round(quantile_cont(boot_mean, 0.05), 4) AS p05,
        |       round(quantile_cont(boot_mean, 0.5), 4) AS p50,
        |       round(quantile_cont(boot_mean, 0.95), 4) AS p95
        |FROM m""".stripMargin,
    // the hash draw re-derived from md5 arithmetic; dense ids via the
    // window form (the operator's zipWithIndex path equals it — pinned
    // by x_surrogate_dense); self-draws excluded on both sides
    "x_negative_sample" ->
      s"""WITH d AS (SELECT doc_id, lang,
        |             row_number() OVER (ORDER BY doc_id) - 1 AS did
        |           FROM documents),
        |nn AS (SELECT count(1) AS n FROM documents),
        |s AS (SELECT q.doc_id, r.i AS slot, q.did,
        |        ${hash32("'neg:' || CAST(q.doc_id AS VARCHAR) || ':' || CAST(r.i AS VARCHAR)")}
        |          % nn.n AS neg_did
        |      FROM d q CROSS JOIN nn CROSS JOIN range(4) r(i))
        |SELECT s.doc_id, CAST(s.slot AS INT) AS slot,
        |       d2.doc_id AS neg_doc_id, d2.lang AS neg_lang
        |FROM s JOIN d d2 ON d2.did = s.neg_did
        |WHERE s.neg_did <> s.did
        |ORDER BY s.doc_id, slot""".stripMargin,
    "x_join_bucket" ->
      s"""SELECT c_custkey, count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "x_part_prune" ->
      s"""SELECT o_orderpriority, count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS total_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Z-tile ids re-derived arithmetically from the raw table: same
    // integer range-binning, the 3-bit interleave in closed form (high
    // bits are zero, so it equals the 16-bit magic-number spread). The
    // oracle applies ONLY the box predicate — equality with the pruned
    // layout read proves the covering-tile set lost no rows
    "x_zorder_prune" ->
      s"""WITH mm AS (SELECT min(l_partkey) AS mnx, max(l_partkey) AS mxx,
        |                   min(l_suppkey) AS mny, max(l_suppkey) AS mxy
        |            FROM lineitem),
        |box AS (SELECT mnx, mxx, mny, mxy,
        |               mnx + (mxx - mnx) // 4 AS lox,
        |               mnx + (mxx - mnx) // 2 AS hix,
        |               mny + (mxy - mny) // 4 AS loy,
        |               mny + (mxy - mny) // 2 AS hiy
        |        FROM mm),
        |f AS (SELECT least(7, (l.l_partkey - b.mnx) * 8 // (b.mxx - b.mnx + 1)) AS bin_x,
        |             least(7, (l.l_suppkey - b.mny) * 8 // (b.mxy - b.mny + 1)) AS bin_y,
        |             l.l_extendedprice
        |      FROM lineitem l CROSS JOIN box b
        |      WHERE l.l_partkey BETWEEN b.lox AND b.hix
        |        AND l.l_suppkey BETWEEN b.loy AND b.hiy)
        |SELECT CAST((bin_x & 1) + 2 * (bin_y & 1) + 4 * ((bin_x >> 1) & 1)
        |            + 8 * ((bin_y >> 1) & 1) + 16 * ((bin_x >> 2) & 1)
        |            + 32 * ((bin_y >> 2) & 1) AS INT) AS zb,
        |       count(1) AS n_rows,
        |       ${moneySumSql("l_extendedprice")} AS revenue
        |FROM f GROUP BY 1 ORDER BY zb""".stripMargin,
    "x_dedup_exact" ->
      """SELECT sha256(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
        |       min(doc_id) AS doc_id, count(1) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // declarative twin — same oracle as x_dedup_exact by construction
    "x_dedup_exact_sql" ->
      """SELECT sha256(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
        |       min(doc_id) AS doc_id, count(1) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // same digest + hash-fated batch split; batch collapses within
    // itself, then NOT EXISTS against the corpus digest set
    "x_dedup_incremental" ->
      s"""WITH h AS (SELECT doc_id,
        |    sha256(lower(regexp_replace(text, '\\s+', ' ', 'g')))
        |      AS content_hash,
        |    ${hash32("'incr:' || CAST(doc_id AS VARCHAR)")} % 10 = 0
        |      AS is_batch
        |  FROM documents),
        |b AS (SELECT content_hash, min(doc_id) AS doc_id,
        |        count(1) AS n_batch_copies
        |      FROM h WHERE is_batch GROUP BY 1)
        |SELECT content_hash, doc_id, n_batch_copies
        |FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM h c
        |                  WHERE NOT c.is_batch
        |                    AND c.content_hash = b.content_hash)
        |ORDER BY doc_id""".stripMargin,
    // same injected head-prepend, same non-overlapping 5-token units;
    // list_distinct order differs from Spark's array_distinct but every
    // output column is order-independent (counts and a token sum)
    "x_dedup_within_doc" ->
      """WITH inj AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN array_to_string(
        |             list_slice(string_split(text, ' '), 1, 5), ' ')
        |           || ' ' || text
        |      ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM inj),
        |u AS (SELECT doc_id,
        |        [array_to_string(list_slice(toks, i * 5 + 1, i * 5 + 5), ' ')
        |         for i in range(0, CAST(ceil(len(toks) / 5.0) AS INT))]
        |          AS units
        |      FROM t),
        |d AS (SELECT doc_id, units, list_distinct(units) AS uniq FROM u)
        |SELECT doc_id,
        |       CAST(len(units) AS BIGINT) AS n_units,
        |       CAST(len(uniq) AS BIGINT) AS n_unique,
        |       CAST(len(units) - len(uniq) AS BIGINT) AS n_dropped,
        |       CAST(list_sum([len(string_split(x, ' ')) for x in uniq])
        |            AS BIGINT) AS kept_tokens
        |FROM d ORDER BY doc_id""".stripMargin,
    // the packer's BMP payload re-derived arithmetically (pixel bytes
    // are the ASCII text bytes, dims are the packer's formulas), then
    // the same integer block-mean / global-mean bit rule. PRECONDITION
    // (pinned by TierXSpec): the corpus text is pure ASCII with
    // n_chars = length(text), so per-char codepoints equal the UTF-8
    // payload bytes the Spark side genuinely decodes
    "x_image_phash" ->
      s"""WITH $phashCte
        |SELECT b.doc_id, b.width, b.height,
        |       CAST(b.n_chars AS BIGINT) AS n_pix, hx.ahash32
        |FROM bmp b JOIN hx USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the aHash chain again, then exhaustive all-pairs Hamming over
    // the <=|corpus|/5 hashes — ground truth for the blocked
    // pigeonhole pairing (exact recall at the threshold)
    "x_phash_pairs" ->
      s"""WITH $phashCte
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(bit_count(xor(a.ahash32, b.ahash32)) AS BIGINT)
        |         AS hamming
        |FROM hx a JOIN hx b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash32, b.ahash32)) <= 6
        |ORDER BY d1, d2""".stripMargin,
    // the injected-variant base (uppercased first eighth — the Spark
    // query's transform verbatim), the 64-block aHash chain, then the
    // same exhaustive all-pairs Hamming ground truth (bit_count over
    // two's-complement BIGINTs counts all 64 bits, sign included —
    // verified: bit_count(-1) = 64)
    "x_phash_pairs64" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |         upper(substr(text, 1, CAST(ceil(n_chars / 8.0) AS INT)))
        |           || substr(text, CAST(ceil(n_chars / 8.0) AS INT) + 1),
        |         n_chars
        |  FROM documents WHERE doc_id % 5 = 0
        |),
        |${phashCte64From("base")}
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(bit_count(xor(a.ahash64, b.ahash64)) AS BIGINT)
        |         AS hamming
        |FROM hx a JOIN hx b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash64, b.ahash64)) <= 6
        |ORDER BY d1, d2""".stripMargin,
    // the full CCNet chain re-derived: injected-replica base, digest
    // dedup keep-min, the x_lang_id profile chain and the x_ngram_lm
    // scoring chain over the survivors, ntile(3) per predicted lang
    "x_pipeline_ccnet" ->
      """WITH base AS (SELECT doc_id, text, lang FROM documents
        |              UNION ALL
        |              SELECT doc_id + 10000000, text, lang
        |              FROM documents WHERE doc_id % 5 = 0),
        |dd AS (SELECT min(doc_id) AS doc_id FROM (
        |         SELECT doc_id,
        |           sha256(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h
        |         FROM base) GROUP BY h),
        |k AS (SELECT b.* FROM base b JOIN dd USING (doc_id)),
        |toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |         FROM k),
        |tc AS (SELECT lang, tok, count(1) AS cnt FROM toks GROUP BY 1, 2),
        |prof AS (SELECT lang AS p_lang, tok FROM (
        |           SELECT lang, tok,
        |             row_number() OVER (PARTITION BY lang
        |               ORDER BY cnt DESC, tok) AS r
        |           FROM tc) WHERE r <= 10),
        |dt AS (SELECT DISTINCT doc_id, tok FROM toks),
        |scores AS (SELECT dt.doc_id, prof.p_lang, count(1) AS score
        |           FROM dt JOIN prof ON dt.tok = prof.tok GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang AS p_lang FROM k),
        |grid AS (SELECT d.doc_id, d.lang, l.p_lang
        |         FROM k d CROSS JOIN langs l),
        |best AS (SELECT doc_id, p_lang,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY coalesce(score, 0) DESC, p_lang) AS r
        |         FROM grid LEFT JOIN scores USING (doc_id, p_lang)),
        |lid AS (SELECT doc_id, p_lang AS pred_lang FROM best WHERE r = 1),
        |c AS (SELECT tok, count(1) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |v AS (SELECT tok,
        |        CAST(round(log10(CAST(cnt AS DOUBLE) / total) * 10000)
        |             AS BIGINT) AS logp_e4
        |      FROM c, tot ORDER BY cnt DESC, tok LIMIT 20),
        |f AS (SELECT CAST(round(log10(1.0 / total) * 10000) AS BIGINT)
        |        AS floor_e4 FROM tot),
        |sc AS (SELECT toks.doc_id,
        |         coalesce(v.logp_e4, f.floor_e4) AS tok_e4
        |       FROM toks LEFT JOIN v USING (tok), f),
        |lm AS (SELECT doc_id, count(1) AS n_tokens,
        |         CAST(sum(tok_e4) AS DOUBLE) / 10000 / count(1) AS avg_logp
        |       FROM sc GROUP BY 1),
        |j AS (SELECT lid.doc_id, lid.pred_lang, lm.n_tokens, lm.avg_logp
        |      FROM lid JOIN lm USING (doc_id)),
        |tt AS (SELECT *, ntile(3) OVER (PARTITION BY pred_lang
        |         ORDER BY avg_logp DESC, doc_id) AS tertile FROM j)
        |SELECT doc_id, pred_lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       avg_logp,
        |       CASE tertile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM tt ORDER BY doc_id""".stripMargin,
    // the same minhash pair chain, then degrees, the deg*1e9+id
    // orientation, a wedge self-join at the low endpoint, and the
    // closing-edge join; triangles unnest to per-vertex counts
    "x_graph_triangles" ->
      s"""WITH $minhashPairsCte,
        |mp AS (SELECT d1, d2 FROM jx
        |       WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
        |dg AS (SELECT v, count(1) AS deg
        |       FROM (SELECT d1 AS v FROM mp
        |             UNION ALL SELECT d2 FROM mp) GROUP BY 1),
        |ok AS (SELECT mp.d1 AS a, mp.d2 AS b,
        |         da.deg * 1000000000 + mp.d1 AS ka,
        |         db.deg * 1000000000 + mp.d2 AS kb
        |       FROM mp JOIN dg da ON mp.d1 = da.v
        |                JOIN dg db ON mp.d2 = db.v),
        |ori AS (SELECT CASE WHEN ka < kb THEN a ELSE b END AS u,
        |               CASE WHEN ka < kb THEN b ELSE a END AS v,
        |               greatest(ka, kb) AS kv FROM ok),
        |wed AS (SELECT w1.u, w1.v AS x, w2.v AS y
        |        FROM ori w1 JOIN ori w2
        |          ON w1.u = w2.u AND w1.kv < w2.kv),
        |tri AS (SELECT wed.u, wed.x, wed.y FROM wed
        |        JOIN ori o ON o.u = wed.x AND o.v = wed.y),
        |pv AS (SELECT v, count(1) AS n_tri
        |       FROM (SELECT u AS v FROM tri
        |             UNION ALL SELECT x FROM tri
        |             UNION ALL SELECT y FROM tri) GROUP BY 1)
        |SELECT dg.v AS doc_id, dg.deg,
        |       CAST(coalesce(pv.n_tri, 0) AS BIGINT) AS n_tri,
        |       round(CASE WHEN dg.deg >= 2
        |             THEN 2.0 * coalesce(pv.n_tri, 0)
        |                  / (dg.deg * (dg.deg - 1))
        |             ELSE 0.0 END, 4) AS clustering
        |FROM dg LEFT JOIN pv USING (v) ORDER BY doc_id""".stripMargin,
    // connected components (recursive reach, the clusterOracle chain)
    // joined with the quality derivation; argmax via ranked window
    "x_dedup_keepbest" ->
      s"""WITH RECURSIVE $minhashPairsCte,
        |mp AS (SELECT d1, d2 FROM jx
        |       WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
        |edges AS (SELECT d1 AS a, d2 AS b FROM mp
        |          UNION SELECT d2, d1 FROM mp),
        |reach(id, x) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.x = e.a),
        |lab AS (SELECT id, least(id, min(x)) AS rep_id
        |        FROM reach GROUP BY id),
        |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(ws) AS DOUBLE) AS n_tokens,
        |        CAST(len(list_distinct(ws)) AS DOUBLE) AS n_unique,
        |        CAST(len(list_intersect(ws, ['the','a','of','and','to'])) AS DOUBLE) AS n_stop
        |      FROM t),
        |r AS (SELECT doc_id, n_tokens,
        |        round(n_unique / n_tokens, 4) AS ttr,
        |        round(n_stop / 5.0, 4) AS stop_hit_ratio,
        |        round(least(n_tokens / 100.0, 1.0), 4) AS len_sat
        |      FROM m),
        |q AS (SELECT doc_id,
        |        round(0.4 * ttr + 0.3 * stop_hit_ratio + 0.3 * len_sat, 4)
        |          AS quality
        |      FROM r),
        |j2 AS (SELECT lab.rep_id, lab.id AS doc_id, q.quality
        |       FROM lab JOIN q ON q.doc_id = lab.id),
        |r2 AS (SELECT rep_id, doc_id, quality,
        |        row_number() OVER (PARTITION BY rep_id
        |          ORDER BY quality DESC, doc_id ASC) AS rn,
        |        count(1) OVER (PARTITION BY rep_id) AS n_members
        |       FROM j2)
        |SELECT rep_id AS cluster_rep, doc_id AS kept_doc_id,
        |       quality AS kept_quality, n_members
        |FROM r2 WHERE rn = 1 ORDER BY cluster_rep""".stripMargin,
    // exact interpolated quantile bounds (quantile_cont == Spark's
    // percentile), clamp, micro-unit exact means
    "x_winsorize" ->
      """WITH b AS (SELECT event_type,
        |        quantile_cont(value, 0.05) AS p_lo,
        |        quantile_cont(value, 0.95) AS p_hi
        |      FROM events GROUP BY 1),
        |c AS (SELECT e.event_type, e.value,
        |        least(greatest(e.value, b.p_lo), b.p_hi) AS cv,
        |        b.p_lo, b.p_hi
        |      FROM events e JOIN b USING (event_type))
        |SELECT event_type, count(1) AS n,
        |       round(CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE)
        |             / 1e6 / count(1), 4) AS mean_raw,
        |       round(CAST(sum(CAST(round(cv * 1e6) AS BIGINT)) AS DOUBLE)
        |             / 1e6 / count(1), 4) AS mean_clip,
        |       CAST(sum(CASE WHEN value < p_lo OR value > p_hi
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |       round(max(p_lo), 4) AS p_lo, round(max(p_hi), 4) AS p_hi
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Efraimidis-Spirakis re-derived: the same offset hash draw, the
    // same micro-nat ln rounding, one exact division as the sort key
    "x_sample_weighted" ->
      s"""WITH h AS (SELECT doc_id, n_chars,
        |    (${hash32("'ws:' || CAST(doc_id AS VARCHAR)")} + 0.5)
        |      / 4294967296.0 AS u
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |        CAST(round(ln(u) * 1e6) AS BIGINT) AS ku FROM h),
        |s AS (SELECT doc_id, weight,
        |        CAST(ku AS DOUBLE) / weight AS skey FROM k),
        |r AS (SELECT *, CAST(row_number() OVER
        |          (ORDER BY skey DESC, doc_id ASC) AS BIGINT) AS rnk
        |      FROM s)
        |SELECT doc_id, weight, round(skey, 4) + 0.0 AS score, rnk
        |FROM r WHERE rnk <= 50 ORDER BY rnk""".stripMargin,
    // the x_quality_score derivation, then mirrored asc/desc
    // row_numbers per source group and a best-vs-worst pair join
    "x_pref_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(ws) AS DOUBLE) AS n_tokens,
        |        CAST(len(list_distinct(ws)) AS DOUBLE) AS n_unique,
        |        CAST(len(list_intersect(ws, ['the','a','of','and','to'])) AS DOUBLE) AS n_stop
        |      FROM t),
        |r AS (SELECT doc_id, n_tokens,
        |        round(n_unique / n_tokens, 4) AS ttr,
        |        round(n_stop / 5.0, 4) AS stop_hit_ratio,
        |        round(least(n_tokens / 100.0, 1.0), 4) AS len_sat
        |      FROM m),
        |q AS (SELECT doc_id,
        |        round(0.4 * ttr + 0.3 * stop_hit_ratio + 0.3 * len_sat, 4)
        |          AS quality
        |      FROM r),
        |s AS (SELECT d.doc_id, d.source, q.quality
        |      FROM documents d JOIN q USING (doc_id)),
        |rk AS (SELECT *,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY quality DESC, doc_id ASC) AS r_best,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY quality ASC, doc_id DESC) AS r_worst,
        |        least(3, count(1) OVER (PARTITION BY source) // 2) AS cap
        |      FROM s),
        |c AS (SELECT source, CAST(r_best AS BIGINT) AS pair_idx,
        |        doc_id AS chosen_id, quality AS q_chosen
        |      FROM rk WHERE r_best <= cap),
        |j AS (SELECT source, CAST(r_worst AS BIGINT) AS pair_idx,
        |        doc_id AS rejected_id, quality AS q_rejected
        |      FROM rk WHERE r_worst <= cap)
        |SELECT source, pair_idx, chosen_id, rejected_id,
        |       q_chosen, q_rejected,
        |       round(q_chosen - q_rejected, 4) AS gap
        |FROM c JOIN j USING (source, pair_idx)
        |WHERE round(q_chosen - q_rejected, 4) > 0
        |ORDER BY source, pair_idx""".stripMargin,
    // hashed-unigram add-one LMs re-derived; per-bucket log-ratio in
    // integer micro-nats so the per-doc sum is exact, one IEEE divide
    // at the end (the Spark side's determinism contract)
    "x_select_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |bk AS (SELECT doc_id, lang, ${hash32("tok")} % 1024 AS bucket
        |       FROM toks),
        |rc AS (SELECT bucket, count(1) AS c_raw FROM bk GROUP BY 1),
        |tc AS (SELECT bucket, count(1) AS c_tgt FROM bk
        |       WHERE lang = 'en' GROUP BY 1),
        |rt AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS t_raw FROM rc),
        |tt AS (SELECT CAST(sum(c_tgt) AS DOUBLE) AS t_tgt FROM tc),
        |lm AS (SELECT rc.bucket,
        |        CAST(round(ln(
        |            ((coalesce(tc.c_tgt, 0) + 1) * (rt.t_raw + 1024))
        |          / ((rc.c_raw + 1) * (tt.t_tgt + 1024))) * 1e6) AS BIGINT)
        |          AS llr_u
        |      FROM rc LEFT JOIN tc USING (bucket)
        |      CROSS JOIN rt CROSS JOIN tt),
        |pd AS (SELECT doc_id, lang, sum(llr_u) AS score_u,
        |        count(1) AS n_toks
        |      FROM bk JOIN lm USING (bucket) GROUP BY 1, 2),
        |sc AS (SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks,
        |        round(CAST(score_u AS DOUBLE) / n_toks / 1e6, 4) + 0.0
        |          AS score
        |      FROM pd),
        |nn AS (SELECT count(1) AS n FROM documents),
        |rk AS (SELECT *, CAST(row_number() OVER
        |          (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
        |       FROM sc)
        |SELECT doc_id, lang, n_toks, score, rnk
        |FROM rk, nn WHERE rnk <= greatest(1, nn.n * 20 // 100)
        |ORDER BY rnk""".stripMargin,
    "x_dedup_near" ->
      s"""WITH $shinglesCte,
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         len(list_intersect(a.shingles, b.shingles)) AS inter,
        |         len(a.shingles) AS la, len(b.shingles) AS lb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT d1, d2, round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jac
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
        |ORDER BY d1, d2""".stripMargin,
    "x_dedup_minhash" ->
      s"""WITH $minhashPairsCte
        |SELECT d1, d2, round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jac
        |FROM jx
        |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
        |ORDER BY d1, d2""".stripMargin,
    "x_dedup_cluster" -> clusterOracle,
    // Hash-Min and large-star/small-star compute the identical
    // partition (property-tested); one recursive-CTE ground truth
    // covers both declared forms
    "x_dedup_cluster_star" -> clusterOracle,
    "x_sample_split" ->
      s"""SELECT doc_id,
        |       CAST(${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket,
        |       CASE WHEN ${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
        |            WHEN ${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // mirrors the banded-LSH candidate generation cross-side (recall is
    // probabilistic, so the oracle must re-derive the same candidates,
    // as x_dedup_minhash does), then exact Jaccard
    "x_contamination" ->
      s"""WITH $crossContamCte
        |SELECT d1, d2, round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jac
        |FROM jx
        |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
        |ORDER BY d1, d2""".stripMargin,
    "x_dedup_latest" ->
      """WITH r AS (SELECT user_id, event_type, event_id, ts, value,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(1) OVER (PARTITION BY user_id, event_type) AS n_versions
        |      FROM events)
        |SELECT user_id, event_type,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_ts,
        |       event_id AS last_event_id, value AS last_value,
        |       n_versions
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "x_sample_stratified" ->
      s"""SELECT doc_id, lang,
        |       CAST(${hash32("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000 AS INT) AS bucket
        |FROM documents
        |WHERE ${hash32("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000 <
        |      CASE WHEN lang = 'en' THEN 200 ELSE 500 END
        |ORDER BY doc_id""".stripMargin,
    "x_token_hist" ->
      """WITH b AS (SELECT least(len(string_split(text, ' ')) // 20, 9) AS bucket
        |           FROM documents)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(bucket * 20 AS BIGINT) AS lo_tokens,
        |       count(1) AS n_docs
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // PQ ADC search re-derived end-to-end: same codebooks, the same
    // exact-e6 inner-product LUTs (left-to-right double sums, SQL
    // round), LUT-sum scoring over the codes, rank ties → vec_id
    "x_sim_pq_adc" ->
      s"""WITH s1 AS (SELECT vec_id,
        |              list_slice(embedding, 1, len(embedding) // 2)
        |                AS embedding
        |            FROM embeddings),
        |s2 AS (SELECT vec_id,
        |         list_slice(embedding, len(embedding) // 2 + 1,
        |                    len(embedding)) AS embedding
        |       FROM embeddings),
        |${pqSubspaceSql("s1", "p0", 16)},
        |${pqSubspaceSql("s2", "p1", 16)},
        |codes AS (SELECT a.vec_id, a.code AS code0, b.code AS code1
        |          FROM codes_p0 a JOIN codes_p1 b USING (vec_id)),
        |q AS (SELECT vec_id AS q_id,
        |        list_slice(embedding, 1, len(embedding) // 2) AS q0,
        |        list_slice(embedding, len(embedding) // 2 + 1,
        |                   len(embedding)) AS q1
        |      FROM embeddings WHERE vec_id < 5),
        |lut0 AS (SELECT q.q_id, c.c_id,
        |           CAST(round(${dotSql("q.q0", "c.c_vec")} * 1000000.0)
        |                AS BIGINT) AS d
        |         FROM q CROSS JOIN c2_p0 c),
        |lut1 AS (SELECT q.q_id, c.c_id,
        |           CAST(round(${dotSql("q.q1", "c.c_vec")} * 1000000.0)
        |                AS BIGINT) AS d
        |         FROM q CROSS JOIN c2_p1 c),
        |sc AS (SELECT q.q_id, codes.vec_id, l0.d + l1.d AS adc_e6
        |       FROM q CROSS JOIN codes
        |            JOIN lut0 l0 ON l0.q_id = q.q_id
        |                        AND l0.c_id = codes.code0
        |            JOIN lut1 l1 ON l1.q_id = q.q_id
        |                        AND l1.c_id = codes.code1
        |       WHERE codes.vec_id <> q.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_e6 DESC, vec_id) AS srank
        |      FROM sc)
        |SELECT q_id, vec_id, CAST(srank AS BIGINT) AS srank, adc_e6
        |FROM r WHERE srank <= 5 ORDER BY q_id, srank""".stripMargin,
    // both subspace codebooks re-derived bit-for-bit (hash-ordered
    // seeds, 2 exact fixed-point Lloyd rounds each) over the sliced
    // halves, then the per-subspace nearest-codeword assignment
    "x_embed_pq" ->
      s"""WITH s1 AS (SELECT vec_id,
        |              list_slice(embedding, 1, len(embedding) // 2)
        |                AS embedding
        |            FROM embeddings),
        |s2 AS (SELECT vec_id,
        |         list_slice(embedding, len(embedding) // 2 + 1,
        |                    len(embedding)) AS embedding
        |       FROM embeddings),
        |${pqSubspaceSql("s1", "p0", 4)},
        |${pqSubspaceSql("s2", "p1", 4)}
        |SELECT a.vec_id, a.code AS code0, b.code AS code1
        |FROM codes_p0 a JOIN codes_p1 b USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin,
    "x_embed_quant" ->
      """WITH e AS (SELECT vec_id, embedding,
        |             CAST(list_min(embedding) AS DOUBLE) AS mn,
        |             CAST(list_max(embedding) AS DOUBLE) AS mx
        |           FROM embeddings),
        |q AS (SELECT vec_id, mn, mx,
        |        CAST(list_sum([CASE WHEN mx = mn THEN 0
        |          ELSE CAST(floor((CAST(embedding[i + 1] AS DOUBLE) - mn) * 255 / (mx - mn)) AS BIGINT)
        |          END for i in range(0, len(embedding))]) AS BIGINT) AS qsum,
        |        CAST(list_sum([(CASE WHEN mx = mn THEN 0
        |          ELSE CAST(floor((CAST(embedding[i + 1] AS DOUBLE) - mn) * 255 / (mx - mn)) AS BIGINT)
        |          END) * (i + 1) for i in range(0, len(embedding))]) AS BIGINT) AS qdot
        |      FROM e)
        |SELECT vec_id, round(mn, 4) AS mn, round(mx, 4) AS mx, qsum, qdot
        |FROM q ORDER BY vec_id""".stripMargin,
    // float components widen to double exactly, quantize to 1e-6
    // fixed point, and sum as integers — the mean is order-free; the
    // parallel unnests zip (position = range element)
    "x_embed_centroid" ->
      """WITH e AS (SELECT label, unnest(embedding) AS x,
        |                  unnest(range(0, len(embedding))) AS pos
        |           FROM embeddings),
        |q AS (SELECT label, pos,
        |        CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
        |      FROM e)
        |SELECT label, pos, count(1) AS n_vecs,
        |       CAST(sum(q) AS DOUBLE) / 1000000 / count(1) AS centroid
        |FROM q GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "x_quota_cap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(ws) AS DOUBLE) AS n_tokens,
        |        CAST(len(list_distinct(ws)) AS DOUBLE) AS n_unique,
        |        CAST(len(list_intersect(ws, ['the','a','of','and','to'])) AS DOUBLE) AS n_stop
        |      FROM t),
        |r AS (SELECT doc_id,
        |        round(n_unique / n_tokens, 4) AS ttr,
        |        round(n_stop / 5.0, 4) AS stop_hit_ratio,
        |        round(least(n_tokens / 100.0, 1.0), 4) AS len_sat
        |      FROM m),
        |q AS (SELECT doc_id,
        |        round(0.4 * ttr + 0.3 * stop_hit_ratio + 0.3 * len_sat, 4) AS quality
        |      FROM r),
        |j AS (SELECT q.doc_id, d.lang, q.quality,
        |        row_number() OVER (PARTITION BY d.lang
        |                           ORDER BY q.quality DESC, q.doc_id) AS qrank
        |      FROM q JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, quality, CAST(qrank AS BIGINT) AS qrank
        |FROM j WHERE qrank <= 50 ORDER BY doc_id""".stripMargin,
    "x_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |th AS (SELECT doc_id, ${hash32("t")} AS h FROM tok),
        |bits AS (SELECT doc_id, b,
        |           CASE WHEN sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
        |                              THEN 1 ELSE -1 END) >= 0
        |                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
        |         FROM th, range(32) r(b) GROUP BY doc_id, b),
        |sim AS (SELECT doc_id,
        |          CAST(sum(bit << CAST(b AS INT)) AS BIGINT) AS simhash
        |        FROM bits GROUP BY doc_id),
        |blk AS (SELECT doc_id, simhash, t, (simhash >> off) & mask AS key
        |        FROM sim, (VALUES (0,0,31),(1,5,31),(2,10,31),(3,15,31),
        |                          (4,20,15),(5,24,15),(6,28,15)) b(t, off, mask)),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |                a.simhash AS s1, b.simhash AS s2
        |         FROM blk a JOIN blk b
        |         ON a.t = b.t AND a.key = b.key AND a.doc_id < b.doc_id),
        |pairs AS (SELECT d1, d2,
        |            CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
        |          FROM cand)
        |SELECT d1, d2, hamming FROM pairs WHERE hamming <= 6
        |ORDER BY d1, d2""".stripMargin,
    "x_dedup_simhash64" -> simhash64Oracle,
    "x_dedup_embed" ->
      s"""WITH $embedPairsCte
        |SELECT v1, v2, round(cos_raw, 4) AS cos
        |FROM p WHERE cos_raw >= 0.4 ORDER BY v1, v2""".stripMargin,
    // cross-corpus sign-LSH re-derived: both sides hash against the
    // TRAIN side's first-16 probe vectors, band keys join across, cos
    // verifies exactly — the embedPairsCte chain split in two
    "x_contamination_embed" ->
      s"""WITH tr AS (SELECT vec_id, embedding FROM embeddings
        |            WHERE vec_id % 10 <> 0),
        |ev AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 0),
        |probes AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS p_id,
        |                  embedding AS p_vec
        |           FROM (SELECT vec_id, embedding FROM tr
        |                 ORDER BY vec_id LIMIT 16) t),
        |dt AS (SELECT v.vec_id, p.p_id, ${dotSql("v.embedding", "p.p_vec")} AS d
        |       FROM tr v CROSS JOIN probes p),
        |bt AS (SELECT vec_id,
        |         string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
        |                    ORDER BY p_id) AS bits
        |       FROM dt GROUP BY vec_id),
        |bandedT AS (SELECT vec_id, b AS band,
        |              substr(bits, CAST(b AS INT) * 2 + 1, 2) AS key
        |            FROM bt, range(8) r(b)),
        |de AS (SELECT v.vec_id, p.p_id, ${dotSql("v.embedding", "p.p_vec")} AS d
        |       FROM ev v CROSS JOIN probes p),
        |be AS (SELECT vec_id,
        |         string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
        |                    ORDER BY p_id) AS bits
        |       FROM de GROUP BY vec_id),
        |bandedE AS (SELECT vec_id, b AS band,
        |              substr(bits, CAST(b AS INT) * 2 + 1, 2) AS key
        |            FROM be, range(8) r(b)),
        |cand AS (SELECT DISTINCT a.vec_id AS train_id, b.vec_id AS eval_id
        |         FROM bandedT a JOIN bandedE b
        |         ON a.band = b.band AND a.key = b.key),
        |p AS (SELECT train_id, eval_id,
        |        ${cosSql("ea.embedding", "eb.embedding")} AS cos_raw
        |      FROM cand JOIN tr ea ON cand.train_id = ea.vec_id
        |                JOIN ev eb ON cand.eval_id = eb.vec_id)
        |SELECT train_id, eval_id, round(cos_raw, 4) AS cos
        |FROM p WHERE cos_raw >= 0.4 ORDER BY train_id, eval_id""".stripMargin,
    "x_dedup_embed_cluster" ->
      s"""WITH RECURSIVE $embedPairsCte,
        |mp AS (SELECT v1, v2 FROM p WHERE cos_raw >= 0.4),
        |edges AS (SELECT v1 AS a, v2 AS b FROM mp
        |          UNION SELECT v2, v1 FROM mp),
        |reach(id, x) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.id, e2.b FROM reach JOIN edges e2 ON reach.x = e2.a),
        |lab AS (SELECT id, least(id, min(x)) AS rep_id FROM reach GROUP BY id),
        |sz AS (SELECT rep_id, count(1) AS cluster_size FROM lab GROUP BY rep_id)
        |SELECT lab.id AS vec_id, lab.rep_id, sz.cluster_size
        |FROM lab JOIN sz USING (rep_id) ORDER BY vec_id""".stripMargin,
    "x_sim_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT q.q_id, e.vec_id,
        |        ${cosSql("e.embedding", "q.q_vec")} AS cos_raw
        |      FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, cos_raw,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank
        |      FROM c)
        |SELECT q_id, vec_id, rank, round(cos_raw, 4) AS cos
        |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // the x_sim_topk candidate chain at 1e-6 fixed point, then 5
    // unrolled greedy MMR steps (the BPE-oracle unroll pattern):
    // integer argmax of rel_e6 − max(sim_e6 to selected) per step
    "x_mmr_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
        |mcand0 AS (SELECT q.q_id, c.vec_id,
        |        ${cosSql("c.embedding", "q.q_vec")} AS cos_raw, c.embedding
        |      FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id),
        |mcand1 AS (SELECT q_id, vec_id, cos_raw, embedding,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY cos_raw DESC, vec_id) AS rnk
        |      FROM mcand0),
        |mcandE AS (SELECT q_id, vec_id,
        |        CAST(round(cos_raw * 1000000.0) AS BIGINT) AS rel_e6, embedding
        |      FROM mcand1 WHERE rnk <= 20),
        |mcand AS MATERIALIZED (SELECT q_id, vec_id, rel_e6 FROM mcandE),
        |mps AS MATERIALIZED (SELECT a.q_id, a.vec_id AS c1, b.vec_id AS c2,
        |        CAST(round((${cosSql("a.embedding", "b.embedding")}) * 1000000.0) AS BIGINT) AS sim_e6
        |      FROM mcandE a JOIN mcandE b
        |        ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
        |sel1 AS MATERIALIZED (SELECT q_id, CAST(1 AS BIGINT) AS sel_rank, vec_id, rel_e6,
        |               rel_e6 AS score_e6
        |      FROM (SELECT c.*, row_number() OVER (PARTITION BY q_id
        |              ORDER BY rel_e6 DESC, vec_id) AS r FROM mcand c)
        |      WHERE r = 1),
        |${(2 to 5).map(mmrStepSql).mkString(",\n")}
        |SELECT q_id, sel_rank, vec_id, rel_e6, score_e6
        |FROM sel5 ORDER BY q_id, sel_rank""".stripMargin,
    // incremental refresh re-derived as a FULL re-assign against the
    // base-trained (frozen) quantizer: seed + 2 Lloyd rounds over the
    // base split only, then every vector (base ∪ delta) assigned to
    // the resulting centroids — equality proves the segment-append
    // path lost nothing and disturbed no base assignment
    "x_sim_ivf_refresh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |base AS (SELECT vec_id, embedding FROM e WHERE vec_id % 5 <> 4),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS c_id,
        |                embedding AS c_vec
        |         FROM (SELECT vec_id, embedding,
        |                      ${hash32("CAST(vec_id AS VARCHAR)")} AS h
        |               FROM base ORDER BY h, vec_id LIMIT 8) t),
        |${kmeansIterSqlOn("base")("c0", "c1")},
        |${kmeansIterSqlOn("base")("c1", "c2")},
        |cn AS (SELECT c_id, c_vec, sqrt(${dotSql("c_vec", "c_vec")}) AS c_nrm FROM c2),
        |asg AS (SELECT v.vec_id, c.c_id,
        |          row_number() OVER (PARTITION BY v.vec_id
        |            ORDER BY (${dotSql("v.embedding", "c.c_vec")} / c.c_nrm) DESC, c.c_id) AS c_rank
        |        FROM e v CROSS JOIN cn c)
        |SELECT vec_id, c_id AS cell,
        |       CASE WHEN vec_id % 5 = 4 THEN 'delta' ELSE 'base' END AS src
        |FROM asg WHERE c_rank = 1 ORDER BY vec_id""".stripMargin,
    "x_sim_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS c_id,
        |                embedding AS c_vec
        |         FROM (SELECT vec_id, embedding,
        |                      ${hash32("CAST(vec_id AS VARCHAR)")} AS h
        |               FROM embeddings ORDER BY h, vec_id LIMIT 8) t),
        |${kmeansIterSql("c0", "c1")},
        |${kmeansIterSql("c1", "c2")},
        |cn AS (SELECT c_id, c_vec, sqrt(${dotSql("c_vec", "c_vec")}) AS c_nrm FROM c2),
        |asg AS (SELECT v.vec_id, c.c_id,
        |          row_number() OVER (PARTITION BY v.vec_id
        |            ORDER BY (${dotSql("v.embedding", "c.c_vec")} / c.c_nrm) DESC, c.c_id) AS c_rank
        |        FROM e v CROSS JOIN cn c),
        |cells AS (SELECT vec_id, c_id AS cell FROM asg WHERE c_rank = 1),
        |corpus AS (SELECT e.vec_id, e.embedding, cells.cell,
        |                  sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
        |           FROM e JOIN cells USING (vec_id)),
        |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM asg
        |           WHERE vec_id < 5 AND c_rank <= 2),
        |q AS (SELECT corpus.vec_id AS q_id, corpus.embedding AS q_vec,
        |             corpus.nrm AS q_nrm, probes.cell
        |      FROM corpus JOIN probes ON corpus.vec_id = probes.q_id),
        |cand AS (SELECT q.q_id, v.vec_id, v.cell,
        |           ${dotSql("v.embedding", "q.q_vec")} / (v.nrm * q.q_nrm) AS cos_raw
        |         FROM corpus v JOIN q ON v.cell = q.cell
        |         WHERE v.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, cell, cos_raw,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank
        |      FROM cand)
        |SELECT q_id, vec_id, cell, rank, round(cos_raw, 4) AS cos
        |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // IVF+PQ composed search re-derived end-to-end: the x_sim_ivf
    // coarse CTEs (hash-seeded k-means, cells, per-query probes)
    // composed with the x_sim_pq_adc fine CTEs (per-subspace codebooks,
    // exact-e6 LUTs); candidates = codes in probed cells only
    "x_sim_ivf_pq" ->
      s"""WITH $ivfPqScoredCte,
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_e6 DESC, vec_id) AS srank
        |      FROM sc)
        |SELECT q_id, vec_id, cell, CAST(srank AS BIGINT) AS srank, adc_e6
        |FROM r WHERE srank <= 5 ORDER BY q_id, srank""".stripMargin,
    // the serving MMR composition: the SAME IVF+PQ scored-candidate
    // chain, pooled at srank <= 20 per query, exact-cosine refined
    // against the raw vectors, then the x_mmr_rerank greedy step CTEs
    "x_mmr_serving" ->
      s"""WITH $ivfPqScoredCte,
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_e6 DESC, vec_id) AS srank
        |      FROM sc),
        |pool AS (SELECT q_id, vec_id FROM r WHERE srank <= 20),
        |qv AS (SELECT vec_id AS q_id, embedding AS q_vec
        |       FROM embeddings WHERE vec_id < 5),
        |mcandE AS (SELECT p.q_id, p.vec_id,
        |      CAST(round((${cosSql("v.embedding", "qv.q_vec")}) * 1000000.0)
        |           AS BIGINT) AS rel_e6,
        |      v.embedding
        |    FROM pool p JOIN e v ON v.vec_id = p.vec_id
        |                JOIN qv ON qv.q_id = p.q_id),
        |mcand AS MATERIALIZED (SELECT q_id, vec_id, rel_e6 FROM mcandE),
        |mps AS MATERIALIZED (SELECT a.q_id, a.vec_id AS c1, b.vec_id AS c2,
        |        CAST(round((${cosSql("a.embedding", "b.embedding")}) * 1000000.0) AS BIGINT) AS sim_e6
        |      FROM mcandE a JOIN mcandE b
        |        ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
        |sel1 AS MATERIALIZED (SELECT q_id, CAST(1 AS BIGINT) AS sel_rank, vec_id, rel_e6,
        |               rel_e6 AS score_e6
        |      FROM (SELECT c.*, row_number() OVER (PARTITION BY q_id
        |              ORDER BY rel_e6 DESC, vec_id) AS r FROM mcand c)
        |      WHERE r = 1),
        |${(2 to 5).map(mmrStepSql).mkString(",\n")}
        |SELECT q_id, sel_rank, vec_id, rel_e6, score_e6
        |FROM sel5 ORDER BY q_id, sel_rank""".stripMargin,
    // the IVF+PQ chain above, probed at nProbe ∈ {1, 2, 4}, each grade
    // a left join of the ranked ADC candidates against the exact
    // cosine top-5 ground truth — counts and recall in one row per
    // probe setting
    "x_ann_recall_curve" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS c_id,
        |                embedding AS c_vec
        |         FROM (SELECT vec_id, embedding,
        |                      ${hash32("CAST(vec_id AS VARCHAR)")} AS h
        |               FROM embeddings ORDER BY h, vec_id LIMIT 8) t),
        |${kmeansIterSql("c0", "c1")},
        |${kmeansIterSql("c1", "c2")},
        |cn AS (SELECT c_id, c_vec, sqrt(${dotSql("c_vec", "c_vec")}) AS c_nrm FROM c2),
        |asg AS (SELECT v.vec_id, c.c_id,
        |          row_number() OVER (PARTITION BY v.vec_id
        |            ORDER BY (${dotSql("v.embedding", "c.c_vec")} / c.c_nrm) DESC, c.c_id) AS c_rank
        |        FROM e v CROSS JOIN cn c),
        |cells AS (SELECT vec_id, c_id AS cell FROM asg WHERE c_rank = 1),
        |s1 AS (SELECT vec_id,
        |              list_slice(embedding, 1, len(embedding) // 2)
        |                AS embedding
        |            FROM embeddings),
        |s2 AS (SELECT vec_id,
        |         list_slice(embedding, len(embedding) // 2 + 1,
        |                    len(embedding)) AS embedding
        |       FROM embeddings),
        |${pqSubspaceSql("s1", "q0", 16)},
        |${pqSubspaceSql("s2", "q1", 16)},
        |codes AS (SELECT a.vec_id, a.code AS code0, b.code AS code1,
        |                 cells.cell
        |          FROM codes_q0 a JOIN codes_q1 b USING (vec_id)
        |               JOIN cells USING (vec_id)),
        |q AS (SELECT vec_id AS q_id,
        |        list_slice(embedding, 1, len(embedding) // 2) AS q0,
        |        list_slice(embedding, len(embedding) // 2 + 1,
        |                   len(embedding)) AS q1
        |      FROM embeddings WHERE vec_id < 5),
        |lut0 AS (SELECT q.q_id, c.c_id,
        |           CAST(round(${dotSql("q.q0", "c.c_vec")} * 1000000.0)
        |                AS BIGINT) AS d
        |         FROM q CROSS JOIN c2_q0 c),
        |lut1 AS (SELECT q.q_id, c.c_id,
        |           CAST(round(${dotSql("q.q1", "c.c_vec")} * 1000000.0)
        |                AS BIGINT) AS d
        |         FROM q CROSS JOIN c2_q1 c),
        |exq AS (SELECT vec_id AS q_id, embedding AS q_vec,
        |          sqrt(${dotSql("embedding", "embedding")}) AS q_nrm
        |        FROM embeddings WHERE vec_id < 5),
        |exd AS (SELECT x.q_id, v.vec_id,
        |          ${dotSql("v.embedding", "x.q_vec")}
        |            / (sqrt(${dotSql("v.embedding", "v.embedding")}) * x.q_nrm)
        |            AS cosr
        |        FROM e v JOIN exq x ON v.vec_id <> x.q_id),
        |exact AS (SELECT q_id, vec_id FROM (
        |            SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
        |              ORDER BY cosr DESC, vec_id) AS rank FROM exd) t
        |          WHERE rank <= 5),
        |${Seq(1, 2, 4).map { p =>
          s"""sp$p AS (SELECT vec_id AS q_id, c_id AS cell FROM asg
          |        WHERE vec_id < 5 AND c_rank <= $p),
          |rr$p AS (SELECT p.q_id, codes.vec_id, l0.d + l1.d AS adc_e6,
          |          row_number() OVER (PARTITION BY p.q_id
          |            ORDER BY l0.d + l1.d DESC, codes.vec_id) AS srank
          |        FROM sp$p p
          |             JOIN codes ON codes.cell = p.cell
          |             JOIN lut0 l0 ON l0.q_id = p.q_id
          |                         AND l0.c_id = codes.code0
          |             JOIN lut1 l1 ON l1.q_id = p.q_id
          |                         AND l1.c_id = codes.code1
          |        WHERE codes.vec_id <> p.q_id),
          |gr$p AS (SELECT CAST($p AS INT) AS n_probe,
          |          CAST(count(1) AS BIGINT) AS n_cand,
          |          CAST(coalesce(sum(CASE WHEN r.srank <= 5
          |                  AND x.vec_id IS NOT NULL
          |                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
          |        FROM rr$p r LEFT JOIN exact x
          |          ON r.q_id = x.q_id AND r.vec_id = x.vec_id)""".stripMargin
        }.mkString(",\n")}
        |SELECT n_probe, n_cand, n_hits,
        |       round(CAST(n_hits AS DOUBLE) / 25.0, 4) AS recall
        |FROM (SELECT * FROM gr1 UNION ALL SELECT * FROM gr2
        |      UNION ALL SELECT * FROM gr4) u
        |ORDER BY n_probe""".stripMargin,
    "x_sim_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |probes AS (SELECT vec_id AS p_id, embedding AS p_vec FROM embeddings WHERE vec_id < 4),
        |dots AS (SELECT v.vec_id, p.p_id,
        |           ${dotSql("v.embedding", "p.p_vec")} AS d
        |         FROM e v CROSS JOIN probes p),
        |buckets AS (SELECT vec_id,
        |              string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
        |                         ORDER BY p_id) AS bucket
        |            FROM dots GROUP BY vec_id),
        |q AS (SELECT b.vec_id AS q_id, e.embedding AS q_vec, b.bucket
        |      FROM buckets b JOIN e ON e.vec_id = b.vec_id WHERE b.vec_id < 5),
        |qp AS (SELECT q_id, q_vec,
        |         CASE WHEN i = 0 THEN bucket
        |              ELSE substr(bucket, 1, CAST(i - 1 AS INT)) ||
        |                   (CASE WHEN substr(bucket, CAST(i AS INT), 1) = '1'
        |                         THEN '0' ELSE '1' END) ||
        |                   substr(bucket, CAST(i + 1 AS INT))
        |         END AS bucket
        |       FROM q, range(5) r(i)),
        |c AS (SELECT qp.q_id, v.vec_id, qp.bucket,
        |        ${cosSql("v.embedding", "qp.q_vec")} AS cos_raw
        |      FROM qp JOIN buckets bv ON bv.bucket = qp.bucket
        |      JOIN e v ON v.vec_id = bv.vec_id
        |      WHERE v.vec_id <> qp.q_id),
        |r AS (SELECT q_id, vec_id, bucket, cos_raw,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank
        |      FROM c)
        |SELECT q_id, vec_id, bucket, rank, round(cos_raw, 4) AS cos
        |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "x_text_analysis" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |              FROM documents)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(1) AS n_tokens,
        |       count(DISTINCT tok) AS n_types,
        |       round(CAST(count(1) AS DOUBLE) / count(DISTINCT doc_id), 4) AS avg_doc_tokens
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,
    "x_lang_id" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tc AS (SELECT lang, tok, count(1) AS cnt FROM toks GROUP BY 1, 2),
        |prof AS (SELECT lang AS p_lang, tok FROM (
        |           SELECT lang, tok,
        |             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS r
        |           FROM tc) WHERE r <= 10),
        |dt AS (SELECT DISTINCT doc_id, tok FROM toks),
        |scores AS (SELECT dt.doc_id, prof.p_lang, count(1) AS score
        |           FROM dt JOIN prof ON dt.tok = prof.tok GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang AS p_lang FROM documents),
        |grid AS (SELECT d.doc_id, d.lang, l.p_lang FROM documents d CROSS JOIN langs l),
        |best AS (SELECT doc_id, lang, p_lang, coalesce(score, 0) AS score,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY coalesce(score, 0) DESC, p_lang) AS r
        |         FROM grid LEFT JOIN scores USING (doc_id, p_lang))
        |SELECT doc_id, lang AS actual_lang, p_lang AS pred_lang,
        |       CAST(score AS BIGINT) AS score, p_lang = lang AS match
        |FROM best WHERE r = 1 ORDER BY doc_id""".stripMargin,
    // the three signals re-derived, per-lang row_number ranks with the
    // doc_id tie-break, exact integer RRF sum, fused re-rank
    "x_quality_rrf" ->
      """WITH base AS (SELECT doc_id, lang,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
        |        n_chars
        |      FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS r_len,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY (CAST(n_unique AS DOUBLE) / n_tokens) DESC, doc_id) AS BIGINT) AS r_ttr,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY (CAST(n_chars AS DOUBLE) / n_tokens) DESC, doc_id) AS BIGINT) AS r_cpt
        |      FROM base),
        |f AS (SELECT doc_id, lang, r_len, r_ttr, r_cpt,
        |        (1000000000 // (60 + r_len)) + (1000000000 // (60 + r_ttr))
        |          + (1000000000 // (60 + r_cpt)) AS rrf_e9
        |      FROM r)
        |SELECT doc_id, lang, r_len, r_ttr, r_cpt, CAST(rrf_e9 AS BIGINT) AS rrf_e9,
        |       CAST(row_number() OVER (PARTITION BY lang
        |         ORDER BY rrf_e9 DESC, doc_id) AS BIGINT) AS fused_rank
        |FROM f ORDER BY doc_id""".stripMargin,
    "x_quality_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(ws) AS DOUBLE) AS n_tokens,
        |        CAST(len(list_distinct(ws)) AS DOUBLE) AS n_unique,
        |        CAST(len(list_intersect(ws, ['the','a','of','and','to'])) AS DOUBLE) AS n_stop
        |      FROM t),
        |r AS (SELECT doc_id, n_tokens, n_unique,
        |        round(n_unique / n_tokens, 4) AS ttr,
        |        round(n_stop / 5.0, 4) AS stop_hit_ratio,
        |        round(least(n_tokens / 100.0, 1.0), 4) AS len_sat
        |      FROM m)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_unique AS BIGINT) AS n_unique,
        |       ttr, stop_hit_ratio, len_sat,
        |       round(0.4 * ttr + 0.3 * stop_hit_ratio + 0.3 * len_sat, 4) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "x_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]')) AS BIGINT) AS re_tokens,
        |       round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_fingerprint" ->
      s"""SELECT doc_id,
        |       list_min([${hash32("substr(text, i, 5)")}
        |                 for i in range(1, length(text) - 3)]) AS fp,
        |       CAST(len(list_distinct([substr(text, i, 5)
        |                 for i in range(1, length(text) - 3)])) AS BIGINT) AS n_kgrams
        |FROM documents WHERE length(text) >= 5 ORDER BY doc_id""".stripMargin,
    "x_chunk_split" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(generate_series(1, len(w), 25)) AS s FROM w),
        |c AS (SELECT doc_id, w, s,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_id
        |      FROM st)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(len(list_slice(w, CAST(s AS INT), CAST(s + 49 AS INT))) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(list_slice(w, CAST(s AS INT), CAST(s + 49 AS INT)), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "x_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, count(1) AS tf FROM toks GROUP BY 1, 2),
        |dfx AS (SELECT tok, count(1) AS df
        |        FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
        |n AS (SELECT count(1) AS n_corpus FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf, dfx.df,
        |        round(tf.tf * ln(CAST(n.n_corpus AS DOUBLE) / dfx.df), 4) AS score
        |      FROM tf JOIN dfx USING (tok) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, tok) AS trank
        |      FROM s)
        |SELECT doc_id, tok, tf, df, score, CAST(trank AS BIGINT) AS trank
        |FROM r WHERE trank <= 3 ORDER BY doc_id, trank""".stripMargin,
    // BM25 re-derived with the IDENTICAL expression tree (same literal
    // forms, same */÷ association, fixed-order pivoted sum), so the
    // e4-rounded scores are bit-stable cross-engine; dl counts every
    // split token (keep-empties), matching the Spark tokenization
    "x_bm25_rank" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |dl AS (SELECT doc_id, count(1) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT count(1) AS n_corpus, avg(CAST(dl AS DOUBLE)) AS avgdl
        |       FROM dl),
        |tf AS (SELECT doc_id, tok, count(1) AS tf FROM toks
        |       WHERE tok IN ('table', 'scan', 'order') GROUP BY 1, 2),
        |dfx AS (SELECT tok, count(1) AS df FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id, tf.tok,
        |        ln(1.0 + (CAST(st.n_corpus AS DOUBLE) - dfx.df + 0.5)
        |                 / (dfx.df + 0.5))
        |        * (CAST(tf.tf AS DOUBLE) * (1.2e0 + 1e0))
        |        / (CAST(tf.tf AS DOUBLE)
        |           + 1.2e0 * ((1.0 - 0.75)
        |                    + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))
        |          AS contrib
        |      FROM tf JOIN dfx USING (tok) JOIN dl USING (doc_id)
        |      CROSS JOIN st),
        |p AS (SELECT c.doc_id, dl.dl,
        |        max(CASE WHEN tok = 'table' THEN contrib END) AS c1,
        |        max(CASE WHEN tok = 'scan' THEN contrib END) AS c2,
        |        max(CASE WHEN tok = 'order' THEN contrib END) AS c3
        |      FROM c JOIN dl USING (doc_id) GROUP BY 1, 2),
        |sc AS (SELECT doc_id, dl,
        |         round(COALESCE(c1, 0.0) + COALESCE(c2, 0.0)
        |               + COALESCE(c3, 0.0), 4) AS score
        |       FROM p),
        |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
        |                  AS rrank
        |      FROM sc)
        |SELECT doc_id, dl, score, CAST(rrank AS BIGINT) AS rrank
        |FROM r WHERE rrank <= 20 ORDER BY rrank""".stripMargin,
    // PMI re-derived with the IDENTICAL fixed-association ratio
    // (c_ab·T·T / (B·c_a·c_b), one ln, e4 round); 1-based list
    // indexing builds the same adjacent bigrams as the Spark transform
    "x_colloc_pmi" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |u AS (SELECT tok, count(1) AS c
        |      FROM (SELECT unnest(w) AS tok FROM w) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_tokens FROM u),
        |b AS (SELECT s.w1 AS w1, s.w2 AS w2, count(1) AS c_ab
        |      FROM (SELECT unnest([struct_pack(w1 := w[i], w2 := w[i+1])
        |                           for i in range(1, len(w))]) AS s
        |            FROM w) t
        |      GROUP BY 1, 2),
        |bt AS (SELECT CAST(sum(c_ab) AS BIGINT) AS b_bigrams FROM b),
        |sc AS (SELECT b.w1, b.w2, b.c_ab,
        |         round(ln((CAST(b.c_ab AS DOUBLE) * tot.t_tokens
        |                   * tot.t_tokens)
        |                  / (CAST(bt.b_bigrams AS DOUBLE) * ua.c * ub.c)),
        |               4) AS pmi
        |       FROM b
        |       JOIN u ua ON b.w1 = ua.tok
        |       JOIN u ub ON b.w2 = ub.tok
        |       CROSS JOIN tot CROSS JOIN bt
        |       WHERE b.c_ab >= 5),
        |r AS (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2)
        |                  AS crank
        |      FROM sc)
        |SELECT w1, w2, c_ab, pmi, CAST(crank AS BIGINT) AS crank
        |FROM r WHERE crank <= 30 ORDER BY crank""".stripMargin,
    // canonicalization re-derived with regexes + list ops over the
    // same injected variants: lowercase scheme/host, default port and
    // utm_* params dropped, params sorted, trailing slashes stripped —
    // the variant families must collapse to identical keys
    "x_url_canon" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'HTTPS://WWW.Host' || CAST(doc_id % 50 AS VARCHAR)
        |           || '.COM:443/Articles/Item?utm_source=feed&b=2&a=1'
        |    WHEN doc_id % 3 = 1
        |      THEN 'https://www.host' || CAST(doc_id % 50 AS VARCHAR)
        |           || '.com/Articles/Item?b=2&a=1&utm_campaign=x'
        |    ELSE 'https://www.host' || CAST(doc_id % 50 AS VARCHAR)
        |         || '.com/Articles/Item2/?a=1&b=2' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(url, '^[A-Za-z]+://', '') AS rest
        |  FROM raw),
        |h AS (
        |  SELECT doc_id, scheme,
        |    regexp_extract(rest, '^([^/]+)', 1) AS hostport,
        |    substr(rest, length(regexp_extract(rest, '^([^/]+)', 1)) + 1)
        |      AS pathq
        |  FROM p),
        |c AS (
        |  SELECT doc_id, scheme,
        |    lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host,
        |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '')
        |      AS path,
        |    CASE WHEN contains(pathq, '?')
        |         THEN regexp_extract(pathq, '[?](.*)$', 1)
        |         ELSE '' END AS qs
        |  FROM h),
        |k AS (
        |  SELECT doc_id,
        |    scheme || '://' || host || path ||
        |      CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS canon
        |  FROM (SELECT *,
        |          array_to_string(list_sort(list_filter(
        |            string_split(qs, '&'), q -> NOT starts_with(q, 'utm_'))), '&')
        |            AS kept
        |        FROM c))
        |SELECT canon, count(1) AS n_urls, min(doc_id) AS min_doc
        |FROM k GROUP BY canon ORDER BY canon""".stripMargin,
    "x_pipeline_curate" ->
      s"""WITH RECURSIVE
        |xd AS (SELECT min(doc_id) AS doc_id
        |       FROM (SELECT doc_id,
        |               sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
        |             FROM documents)
        |       GROUP BY h),
        |surv AS (SELECT d.* FROM documents d JOIN xd USING (doc_id)),
        |${minhashPairsCteFrom("surv")},
        |mp AS (SELECT d1, d2 FROM jx
        |       WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
        |edges AS (SELECT d1 AS a, d2 AS b FROM mp
        |          UNION SELECT d2, d1 FROM mp),
        |reach(id, x) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.x = e.a),
        |lab AS (SELECT id, least(id, min(x)) AS rep_id FROM reach GROUP BY id),
        |dropped AS (SELECT id AS doc_id FROM lab WHERE id <> rep_id),
        |kept AS (SELECT surv.* FROM surv LEFT JOIN dropped USING (doc_id)
        |         WHERE dropped.doc_id IS NULL),
        |qt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
        |qm AS (SELECT doc_id,
        |         CAST(len(ws) AS DOUBLE) AS n_tokens,
        |         CAST(len(list_distinct(ws)) AS DOUBLE) AS n_unique,
        |         CAST(len(list_intersect(ws, ['the','a','of','and','to'])) AS DOUBLE) AS n_stop
        |       FROM qt),
        |qr AS (SELECT doc_id,
        |         round(n_unique / n_tokens, 4) AS ttr,
        |         round(n_stop / 5.0, 4) AS stop_hit_ratio,
        |         round(least(n_tokens / 100.0, 1.0), 4) AS len_sat
        |       FROM qm),
        |qq AS (SELECT doc_id,
        |         round(0.4 * ttr + 0.3 * stop_hit_ratio + 0.3 * len_sat, 4) AS quality
        |       FROM qr),
        |qj AS (SELECT qq.doc_id, d.lang, qq.quality,
        |         row_number() OVER (PARTITION BY d.lang
        |                            ORDER BY qq.quality DESC, qq.doc_id) AS qrank
        |       FROM qq JOIN kept d USING (doc_id)),
        |qk AS (SELECT doc_id, lang, quality, CAST(qrank AS BIGINT) AS qrank
        |       FROM qj WHERE qrank <= 50),
        |sp AS (SELECT doc_id,
        |         CASE WHEN ${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
        |              WHEN ${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM kept),
        |cw AS (SELECT doc_id, string_split(text, ' ') AS cwds FROM kept),
        |cst AS (SELECT doc_id, cwds, unnest(generate_series(1, len(cwds), 25)) AS s FROM cw),
        |cc AS (SELECT doc_id, cwds, s,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_id
        |       FROM cst)
        |SELECT qk.doc_id, qk.lang, qk.quality, qk.qrank, sp.split,
        |       CAST(cc.chunk_id AS BIGINT) AS chunk_id,
        |       CAST(len(list_slice(cwds, CAST(s AS INT), CAST(s + 49 AS INT))) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(list_slice(cwds, CAST(s AS INT), CAST(s + 49 AS INT)), ' ') AS chunk_text
        |FROM qk JOIN sp USING (doc_id) JOIN cc USING (doc_id)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // pseudo-frames are 100-byte payload slices, every 2nd sampled;
    // the last frame is the remainder
    "x_multimodal_frames" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(range(0, n // 100, 2)) AS frame_idx FROM m)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(least(frame_idx * 100 + 100, n) - frame_idx * 100 AS BIGINT) AS frame_bytes
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // mirrors the two-phase distributed prefix sum with a plain window
    // cumsum — the single-partition form the engine deliberately avoids
    "x_pack_sequences" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |         ${hash32("'pack:' || CAST(doc_id AS VARCHAR)")} AS h,
        |         len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |         COALESCE(sum(n_tokens) OVER (ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(start_tok AS BIGINT) AS start_tok,
        |       CAST(start_tok // 256 AS BIGINT) AS pack_id,
        |       CAST(start_tok % 256 AS BIGINT) AS pack_off
        |FROM o ORDER BY doc_id""".stripMargin,
    // the x_pack_sequences prefix-sum CTE at shard budget, grouped to
    // the manifest: per-shard doc/token totals + the bit_xor hash32
    // CONTENT fingerprint over doc_id:text — recomputed from the raw
    // corpus, so equality proves the landed shards carry exactly the
    // assigned documents WITH their payloads intact
    "x_export_shards" ->
      s"""WITH t AS (
        |  SELECT doc_id, text,
        |         ${hash32("'pack:' || CAST(doc_id AS VARCHAR)")} AS h,
        |         len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, text, n_tokens,
        |         COALESCE(sum(n_tokens) OVER (ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        |  FROM t),
        |s AS (
        |  SELECT doc_id, text, n_tokens,
        |         CAST(start_tok // 2000 AS BIGINT) AS shard_id
        |  FROM o)
        |SELECT shard_id, count(1) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       bit_xor(${hash32("CAST(doc_id AS VARCHAR) || ':' || text")}) AS doc_fp,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    // n-gram lists re-derived with the same slice arithmetic as the
    // shingle CTEs; a doc shorter than n tokens has no n-grams -> 0
    "x_quality_rep" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, len(w) AS n_tokens,
        |        [array_to_string(list_slice(w, i, i + 1), ' ') for i in range(1, len(w))] AS g2,
        |        [array_to_string(list_slice(w, i, i + 2), ' ') for i in range(1, len(w) - 1)] AS g3
        |      FROM t),
        |f AS (SELECT doc_id, n_tokens,
        |        CASE WHEN len(g2) = 0 THEN 0
        |             ELSE round(1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4) END AS dup2_frac,
        |        CASE WHEN len(g3) = 0 THEN 0
        |             ELSE round(1 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4) END AS dup3_frac
        |      FROM g)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, dup2_frac, dup3_frac,
        |       dup2_frac > 0.2 AS repetitive
        |FROM f ORDER BY doc_id""".stripMargin,
    // injection mirrored, then the same regexes with DuckDB's global
    // flag (Spark regexp_replace is global by default)
    "x_redact_pii" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0
        |                THEN text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.com now'
        |              WHEN doc_id % 5 = 1
        |                THEN text || ' dial 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+[.][a-z]+')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |       regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z0-9]+[.][a-z]+', '<EMAIL>', 'g'),
        |                      '555-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM inj ORDER BY doc_id""".stripMargin,
    // mirrors packMediaTable's construction arithmetic: bmp docs carry a
    // 54-byte header (dims from n_chars/doc_id), wav docs a 44-byte
    // header over data truncated to whole PCM frames, raw docs the
    // pseudo-metadata fallback — the Spark side must recover all of it
    // by PARSING the bytes it packed
    // every header field re-derived arithmetically from the packing
    // formulas (bmp 54+n / png sig+IHDR+IDAT+IEND = 57+n / jpeg
    // SOI+APP0+SOF0+SOS+EOI = 45+n or 55+n by component count): a
    // parse bug on ANY of the five container branches cannot hash-match
    // PCM energies re-derived from the generation rule: the WAV data
    // chunk is the UTF-8 text truncated to a block multiple, the
    // corpus is verified ASCII (char code == byte), so sample g is
    // ascii(byte 2g) + 256*ascii(byte 2g+1) — always < 2^15, signed
    // and unsigned readings agree
    "x_audio_energy" ->
      """WITH w AS (SELECT doc_id, text, (doc_id % 2) + 1 AS ch,
        |                 length(text) AS n
        |           FROM documents WHERE doc_id % 5 = 1),
        |d AS (SELECT doc_id, text, n - (n % (ch * 2)) AS data_len FROM w),
        |f AS (SELECT doc_id, text, (data_len // 2) // 16 AS frames FROM d),
        |s AS (SELECT doc_id, text, unnest(range(frames)) AS frame_idx FROM f),
        |smp AS (SELECT doc_id, frame_idx,
        |          unnest([ascii(substr(text, CAST(2 * (frame_idx * 16 + j) + 1 AS INT), 1))
        |                  + 256 * ascii(substr(text, CAST(2 * (frame_idx * 16 + j) + 2 AS INT), 1))
        |                  for j in range(16)]) AS smp
        |        FROM s)
        |SELECT doc_id, frame_idx, CAST(16 AS INT) AS n_samples,
        |       CAST(sum(smp * smp) AS BIGINT) AS energy
        |FROM smp GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // exact all-pairs ground truth + the same weakened 8-hash/2-band
    // LSH chain re-derived; counts and the two ratios in one row
    "x_ann_recall" ->
      s"""WITH $shinglesCte,
        |pairsx AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |        / (len(a.shingles) + len(b.shingles)
        |           - len(list_intersect(a.shingles, b.shingles))) >= 0.8),
        |ex2 AS (SELECT doc_id, unnest(shingles) AS s2 FROM sh),
        |hw2 AS (SELECT doc_id, ${hash32("s2")} AS h1,
        |              ${hash32("'1:' || s2")} AS h2 FROM ex2),
        |hx2 AS (SELECT doc_id, j,
        |         min((h1 + j * h2) % 4294967296) AS mh
        |       FROM hw2, range(8) t(j) GROUP BY doc_id, j),
        |bands2 AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |            string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j) AS key
        |          FROM hx2 GROUP BY doc_id, j // 4),
        |cand2 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM bands2 a JOIN bands2 b
        |         ON a.band = b.band AND a.key = b.key
        |            AND a.doc_id < b.doc_id),
        |lsh2 AS (SELECT c.d1, c.d2 FROM cand2 c
        |         JOIN sh sa ON c.d1 = sa.doc_id
        |         JOIN sh sb ON c.d2 = sb.doc_id
        |         WHERE CAST(len(list_intersect(sa.shingles, sb.shingles))
        |                    AS DOUBLE)
        |           / (len(sa.shingles) + len(sb.shingles)
        |              - len(list_intersect(sa.shingles, sb.shingles)))
        |           >= 0.8),
        |sel AS (SELECT
        |  (SELECT count(1) FROM pairsx) AS n_exact,
        |  (SELECT count(1) FROM lsh2) AS n_lsh,
        |  (SELECT count(1) FROM pairsx p JOIN lsh2 l
        |   ON p.d1 = l.d1 AND p.d2 = l.d2) AS n_both)
        |SELECT n_exact, n_lsh, n_both,
        |       round(CAST(n_both AS DOUBLE) / n_exact, 4) AS recall,
        |       round(CAST(n_both AS DOUBLE) / n_lsh, 4) AS prec
        |FROM sel""".stripMargin,
    // the x_audio_energy PCM chain at 4-sample frames, then the same
    // lag-window energy-delta bits (integer exact end to end)
    "x_audio_fp" ->
      """WITH w AS (SELECT doc_id, text, (doc_id % 2) + 1 AS ch,
        |                 length(text) AS n
        |           FROM documents WHERE doc_id % 5 = 1),
        |d AS (SELECT doc_id, text, n - (n % (ch * 2)) AS data_len FROM w),
        |f AS (SELECT doc_id, text, (data_len // 2) // 4 AS frames FROM d),
        |s AS (SELECT doc_id, text, unnest(range(frames)) AS frame_idx FROM f),
        |smp AS (SELECT doc_id, frame_idx,
        |          unnest([ascii(substr(text, CAST(2 * (frame_idx * 4 + j) + 1 AS INT), 1))
        |                  + 256 * ascii(substr(text, CAST(2 * (frame_idx * 4 + j) + 2 AS INT), 1))
        |                  for j in range(4)]) AS smp
        |        FROM s),
        |en AS (SELECT doc_id, frame_idx, sum(smp * smp) AS energy
        |       FROM smp GROUP BY 1, 2),
        |lg AS (SELECT doc_id, frame_idx, energy,
        |        lag(energy) OVER (PARTITION BY doc_id
        |          ORDER BY frame_idx) AS prev
        |       FROM en)
        |SELECT doc_id, count(1) AS n_frames,
        |       CAST(coalesce(sum(CASE WHEN frame_idx BETWEEN 1 AND 32
        |                AND energy > prev
        |                THEN CAST(1 AS BIGINT) << CAST(frame_idx - 1 AS INT)
        |                ELSE 0 END), 0) AS BIGINT) AS afp32
        |FROM lg GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the injected decomposed runs re-derived via chr() codepoints
    // (769 = U+0301 combining acute, 778 = U+030A ring, 776 = U+0308
    // diaeresis) and DuckDB's own nfc_normalize — both engines
    // implement the same UAX #15 canonical composition, so a
    // normalization bug on either side cannot hash-match; all chars
    // are BMP so DuckDB codepoint length == Spark UTF-16 length
    "x_text_nfc" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |                THEN substr(text, 1, 24) || ' Cafe' || chr(769)
        |              WHEN doc_id % 3 = 1
        |                THEN substr(text, 1, 24) || ' A' || chr(778)
        |                     || 'ngstro' || chr(776) || 'm'
        |              ELSE substr(text, 1, 24) END AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm,
        |       CAST(length(raw) AS BIGINT) AS n_before,
        |       CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_after
        |FROM raw ORDER BY doc_id""".stripMargin,
    "x_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id, lang, n_chars,
        |         octet_length(encode(text)) AS n,
        |         doc_id % 5 AS res,
        |         doc_id % 2 = 0 AS even,
        |         (doc_id % 2) + 1 AS ch
        |  FROM documents),
        |w AS (SELECT *, ch * 2 AS blk, n - (n % (ch * 2)) AS data_len FROM m)
        |SELECT doc_id,
        |       CASE res WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
        |                WHEN 3 THEN 'png' WHEN 4 THEN 'jpeg'
        |                ELSE 'raw' END AS kind,
        |       CAST(CASE res WHEN 0 THEN 54 + n WHEN 1 THEN 44 + data_len
        |                     WHEN 3 THEN 57 + n
        |                     WHEN 4 THEN (CASE WHEN even THEN 55 ELSE 45 END) + n
        |                     ELSE n END AS BIGINT) AS n_bytes,
        |       CAST(CASE res WHEN 0 THEN (n_chars % 640) + 1 WHEN 1 THEN 0
        |                     WHEN 3 THEN (n_chars % 512) + 1
        |                     WHEN 4 THEN (n_chars % 1024) + 1
        |                     ELSE n % 640 END AS BIGINT) AS width,
        |       CAST(CASE res WHEN 0 THEN (doc_id % 480) + 1 WHEN 1 THEN 0
        |                     WHEN 3 THEN (doc_id % 256) + 1
        |                     WHEN 4 THEN (doc_id % 768) + 1
        |                     ELSE (n * 7) % 480 END AS BIGINT) AS height,
        |       CAST(CASE res WHEN 0 THEN 1 WHEN 1 THEN data_len // blk
        |                     WHEN 3 THEN 1 WHEN 4 THEN 1
        |                     ELSE n // 100 END AS BIGINT) AS n_frames,
        |       CAST(CASE res WHEN 1 THEN 8000 + (doc_id % 8) * 500
        |                     ELSE 0 END AS BIGINT) AS sample_rate,
        |       CAST(CASE res WHEN 0 THEN 3 WHEN 1 THEN ch
        |                     WHEN 3 THEN CASE WHEN even THEN 3 ELSE 4 END
        |                     WHEN 4 THEN CASE WHEN even THEN 3 ELSE 1 END
        |                     ELSE 0 END AS BIGINT) AS channels,
        |       lang
        |FROM w ORDER BY doc_id""".stripMargin,
    // latest-by-(ts,event_id) per user, then drop keys whose winning op
    // is a tombstone — MERGE INTO semantics replayed over the full log.
    // x_cdc_upsert shares this oracle BY DESIGN: the maintained state
    // table (init + in-place MERGE of the newest slice) must equal the
    // full-log replay exactly — replay equivalence is the merge
    // correctness contract
    "x_cdc_upsert" ->
      """WITH log AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         event_type, value
        |  FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(1) OVER (PARTITION BY user_id) AS n_versions
        |      FROM log)
        |SELECT user_id, op, event_type, value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       CAST(n_versions AS BIGINT) AS n_versions
        |FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin,
    "x_cdc_apply" ->
      """WITH log AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         event_type, value
        |  FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(1) OVER (PARTITION BY user_id) AS n_versions
        |      FROM log)
        |SELECT user_id, op, event_type, value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       CAST(n_versions AS BIGINT) AS n_versions
        |FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin,
    // keep-rate_g = floor(1000*sqrt(n_min/n_g)) per-mille — sqrt and
    // double division are IEEE-exact, so the rate table is
    // bit-identical cross-engine; row fate is the same hash32 draw
    "x_domain_mix" ->
      s"""WITH c AS (SELECT lang, count(1) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS n_min FROM c),
        |r AS (SELECT lang,
        |        CAST(floor(1000 * sqrt(CAST(n_min AS DOUBLE) / n)) AS BIGINT)
        |          AS rate
        |      FROM c, m)
        |SELECT d.doc_id, d.lang,
        |       CAST(${hash32("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 AS INT) AS bucket,
        |       r.rate
        |FROM documents d JOIN r USING (lang)
        |WHERE ${hash32("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 < r.rate
        |ORDER BY doc_id""".stripMargin,
    // fractional upsampling re-derived: same e3 fixed-point rate, same
    // hash-fated extra copy, copies materialized by a lateral range
    "x_domain_upsample" ->
      s"""WITH c AS (SELECT lang, count(1) AS n FROM documents GROUP BY 1),
        |m AS (SELECT max(n) AS n_max FROM c),
        |r AS (SELECT lang,
        |        least(CAST(floor(1000 * sqrt(CAST(n_max AS DOUBLE) / n))
        |                   AS BIGINT), 4000) AS rate_e3
        |      FROM c, m),
        |d AS (SELECT doc_id, d.lang, rate_e3,
        |        ${hash32("'up:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
        |      FROM documents d JOIN r USING (lang)),
        |e AS (SELECT doc_id, lang, rate_e3,
        |        rate_e3 // 1000
        |          + CASE WHEN bucket < rate_e3 % 1000 THEN 1 ELSE 0 END
        |          AS copies
        |      FROM d)
        |SELECT doc_id, lang, CAST(u AS BIGINT) AS copy_id, rate_e3
        |FROM e, unnest(range(1, copies + 1)) z(u)
        |ORDER BY doc_id, copy_id""".stripMargin,
    // the x_quality_score derivation feeding a per-lang ranked running
    // token sum; keep the greedy prefix within the budget
    "x_budget_select" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |        CAST(len(ws) AS DOUBLE) AS n_tokens,
        |        CAST(len(list_distinct(ws)) AS DOUBLE) AS n_unique,
        |        CAST(len(list_intersect(ws, ['the','a','of','and','to'])) AS DOUBLE) AS n_stop
        |      FROM t),
        |r AS (SELECT doc_id, n_tokens,
        |        round(n_unique / n_tokens, 4) AS ttr,
        |        round(n_stop / 5.0, 4) AS stop_hit_ratio,
        |        round(least(n_tokens / 100.0, 1.0), 4) AS len_sat
        |      FROM m),
        |q AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        round(0.4 * ttr + 0.3 * stop_hit_ratio + 0.3 * len_sat, 4)
        |          AS quality
        |      FROM r),
        |s AS (SELECT d.doc_id, d.lang, q.n_tokens, q.quality,
        |        sum(q.n_tokens) OVER (PARTITION BY d.lang
        |          ORDER BY q.quality DESC, d.doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |      FROM documents d JOIN q USING (doc_id))
        |SELECT doc_id, lang, n_tokens, quality,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM s WHERE cum_tokens <= 3000 ORDER BY doc_id""".stripMargin,
    // 8-token spans as hash32 keys, df-capped before the pairing join —
    // the same stop-span logic as the Spark side, re-derived end-to-end
    "x_dedup_substring" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 8
        |       THEN list_distinct([array_to_string(list_slice(w, i, i + 7), ' ')
        |                           for i in range(1, len(w) - 6)])
        |       ELSE [array_to_string(w, ' ')] END AS shingles
        |FROM w),
        |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |ex AS (SELECT doc_id, ${hash32("s")} AS h FROM ex0),
        |df AS (SELECT h, count(1) AS df FROM ex GROUP BY 1),
        |good AS (SELECT h FROM df WHERE df BETWEEN 2 AND 10),
        |hg AS (SELECT doc_id, e.h FROM ex e JOIN good USING (h)),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS n_shared
        |      FROM hg a JOIN hg b ON a.h = b.h AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT d1, d2, n_shared FROM p WHERE n_shared >= 3
        |ORDER BY d1, d2""".stripMargin,
    // matched spans at (p1, p2) lie on diagonal p1-p2; consecutive
    // positions per diagonal are one shared substring (gaps-and-islands)
    // — a shared L-token run is L-k+1 consecutive spans, so
    // longest_tokens = max_run + k - 1 exactly
    "x_dedup_span_runs" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p0 AS (SELECT doc_id,
        |         unnest([array_to_string(list_slice(w, i, i + 7), ' ')
        |                 for i in range(1, len(w) - 6)]) AS s,
        |         unnest(range(1, len(w) - 6)) AS p
        |       FROM w WHERE len(w) >= 8),
        |pos AS (SELECT doc_id, p, ${hash32("s")} AS h FROM p0),
        |df AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df
        |                      FROM pos GROUP BY 1)
        |       WHERE df BETWEEN 2 AND 10),
        |idx AS (SELECT doc_id, p, pos.h FROM pos JOIN df USING (h)),
        |m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.p AS p1,
        |             a.p - b.p AS diag
        |      FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id),
        |r AS (SELECT d1, d2, diag,
        |        p1 - row_number() OVER (PARTITION BY d1, d2, diag
        |                                ORDER BY p1) AS grp
        |      FROM m),
        |runs AS (SELECT d1, d2, diag, grp, count(1) AS run
        |         FROM r GROUP BY 1, 2, 3, 4),
        |agg AS (SELECT d1, d2, max(run) AS max_run, count(1) AS n_runs
        |        FROM runs GROUP BY 1, 2)
        |SELECT d1, d2, CAST(max_run + 7 AS BIGINT) AS longest_tokens,
        |       CAST(n_runs AS BIGINT) AS n_runs
        |FROM agg WHERE max_run >= 2 ORDER BY d1, d2""".stripMargin,
    // top-20 vocab by (cnt desc, tok asc); per-token log10-prob
    // quantized to 1e-4 fixed point BEFORE summing, so the per-doc sum
    // is order-free integer arithmetic in both engines
    "x_ngram_lm" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, count(1) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |v AS (SELECT tok,
        |        CAST(round(log10(CAST(cnt AS DOUBLE) / total) * 10000) AS BIGINT)
        |          AS logp_e4
        |      FROM c, tot ORDER BY cnt DESC, tok LIMIT 20),
        |f AS (SELECT CAST(round(log10(1.0 / total) * 10000) AS BIGINT)
        |        AS floor_e4 FROM tot),
        |s AS (SELECT t.doc_id,
        |        coalesce(v.logp_e4, f.floor_e4) AS tok_e4
        |      FROM t LEFT JOIN v USING (tok), f)
        |SELECT doc_id, count(1) AS n_tokens,
        |       CAST(sum(tok_e4) AS BIGINT) AS sum_logp_e4,
        |       CAST(sum(tok_e4) AS DOUBLE) / 10000 / count(1) AS avg_logp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // specials (cnt 0) ahead of the top-20 corpus tokens; ids from one
    // rank over the combined ≤24-row frame
    "x_vocab_build" ->
      """WITH c AS (SELECT tok, count(1) AS cnt
        |           FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |                 FROM documents) GROUP BY tok
        |           ORDER BY cnt DESC, tok LIMIT 20),
        |v AS (SELECT tok, CAST(0 AS BIGINT) AS cnt, true AS is_special
        |      FROM (VALUES ('<pad>'), ('<unk>'), ('<bos>'), ('<eos>')) s(tok)
        |      UNION ALL
        |      SELECT tok, cnt, false FROM c)
        |SELECT CAST(row_number() OVER
        |         (ORDER BY is_special DESC, cnt DESC, tok) - 1 AS BIGINT)
        |         AS token_id,
        |       tok, cnt, is_special
        |FROM v ORDER BY token_id""".stripMargin,
    // winnowing: per-window min over packed (hash, rightmost-pos) keys;
    // k=3-gram hashes, window w=4, key = h*2^20 + (2^20-1-pos)
    "x_fingerprint_winnow" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
        |k AS (SELECT doc_id,
        |        [${hash32("array_to_string(list_slice(wd, i, i + 2), ' ')")}
        |           * 1048576 + (1048575 - (i - 1))
        |         for i in range(1, len(wd) - 1)] AS keys
        |      FROM t WHERE len(wd) >= 6),
        |f AS (SELECT doc_id,
        |        list_distinct([list_min(keys[q:q + 3])
        |                       for q in range(1, len(keys) - 2)]) AS fps
        |      FROM k)
        |SELECT doc_id, key // 1048576 AS fp,
        |       1048575 - (key % 1048576) AS pos
        |FROM (SELECT doc_id, unnest(fps) AS key FROM f)
        |ORDER BY doc_id, pos""".stripMargin,
    // boilerplate = 3-grams in ≥4 distinct docs; covered 1-based token
    // positions removed, survivors re-joined in order
    "x_boilerplate_strip" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
        |g AS (SELECT doc_id, i AS p,
        |        array_to_string(list_slice(wd, i, i + 2), ' ') AS gram
        |      FROM t, unnest(range(1, len(wd) - 1)) s(i)
        |      WHERE len(wd) >= 3),
        |hot AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS df
        |                          FROM g GROUP BY gram)
        |        WHERE df >= 4),
        |covt AS (SELECT doc_id, list_sort(list(DISTINCT cp)) AS cov
        |         FROM (SELECT DISTINCT doc_id, p + o AS cp
        |               FROM g JOIN hot USING (gram),
        |                    unnest(range(0, 3)) z(o))
        |         GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(wd) AS BIGINT) AS n_tokens,
        |       CAST(COALESCE(len(cov), 0) AS BIGINT) AS n_removed,
        |       array_to_string([wd[i] for i in range(1, len(wd) + 1)
        |                        if cov IS NULL OR NOT list_contains(cov, i)],
        |                       ' ') AS clean_text
        |FROM t LEFT JOIN covt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // entropy terms mirror the Spark formula exactly (ln/ln(2), e6
    // fixed-point per language BEFORE the cross-language sum)
    "x_data_card" ->
      """WITH sl AS (SELECT source, lang, count(1) AS cnt,
        |              sum(n_chars) AS chars
        |            FROM documents GROUP BY source, lang),
        |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS t,
        |          CAST(sum(chars) AS BIGINT) AS n_chars_total
        |        FROM sl GROUP BY source),
        |top AS (SELECT source, lang AS top_lang FROM (
        |          SELECT source, lang, row_number() OVER
        |            (PARTITION BY source ORDER BY cnt DESC, lang) AS r
        |          FROM sl) WHERE r = 1),
        |terms AS (SELECT sl.source,
        |            CAST(round(CAST(sl.cnt AS DOUBLE)
        |              * ln(CAST(tot.t AS DOUBLE) / sl.cnt) / ln(2.0)
        |              * 1000000) AS BIGINT) AS term_e6
        |          FROM sl JOIN tot USING (source))
        |SELECT tot.source, tot.t AS n_docs, tot.n_chars_total,
        |       (SELECT count(1) FROM sl WHERE sl.source = tot.source)
        |         AS n_langs,
        |       top.top_lang,
        |       CAST((SELECT sum(term_e6) FROM terms
        |             WHERE terms.source = tot.source) AS DOUBLE)
        |         / 1000000 / tot.t AS lang_entropy
        |FROM tot JOIN top USING (source)
        |ORDER BY source""".stripMargin,
    "x_embed_project" -> projOracle,
    "x_graph_rank" -> graphRankOracle,
    // CMS counter grid from the portable seeded hash32 — the sketch
    // itself is exactly re-derived, estimate = min over the 4 rows
    "x_heavy_cms" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |rb AS (SELECT tok, i AS ri,
        |         CAST(${hash32("i || ':' || tok")} % 64 AS INT) AS bucket
        |       FROM tok, range(4) r(i)),
        |counters AS (SELECT ri, bucket, count(1) AS cnt
        |             FROM rb GROUP BY 1, 2),
        |top AS (SELECT tok, count(1) AS exact_cnt FROM tok GROUP BY 1
        |        ORDER BY exact_cnt DESC, tok LIMIT 10),
        |probes AS (SELECT t.tok, t.exact_cnt, i AS ri,
        |             CAST(${hash32("i || ':' || t.tok")} % 64 AS INT)
        |               AS bucket
        |           FROM top t, range(4) r(i)),
        |est AS (SELECT tok, any_value(exact_cnt) AS exact_cnt,
        |          min(cnt) AS cms_est
        |        FROM probes JOIN counters USING (ri, bucket)
        |        GROUP BY tok)
        |SELECT tok, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
        |FROM est ORDER BY tok""".stripMargin,
    // bounded oracle (the r_agg_approx_distinct pattern): exact distinct
    // counts + TRUE for the engine-side tolerance verdict; n_sketches =
    // stored (day[, type]) groups each rollup row merged
    "x_sketch_rollup" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS dt, event_type, user_id
        |           FROM events)
        |SELECT event_type,
        |       count(DISTINCT dt) AS n_sketches,
        |       count(1) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       TRUE AS approx_ok
        |FROM e GROUP BY event_type
        |UNION ALL
        |SELECT '__all__' AS event_type,
        |       count(DISTINCT concat(CAST(dt AS VARCHAR), '|', event_type))
        |         AS n_sketches,
        |       count(1) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       TRUE AS approx_ok
        |FROM e
        |ORDER BY event_type""".stripMargin,
    // bounded oracle, set-algebra flavor: exact INTERSECT/EXCEPT/UNION
    // distinct counts + TRUE for the tolerance verdict (test-scale
    // sketches are in exact mode, so the verdict is deterministic)
    "x_sketch_setops" ->
      """WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS dt, user_id
        |           FROM events WHERE event_type = 'purchase'),
        |cut AS (SELECT min(dt) + 15 AS c FROM p),
        |a AS (SELECT DISTINCT user_id FROM p, cut WHERE dt < c),
        |b AS (SELECT DISTINCT user_id FROM p, cut WHERE dt >= c)
        |SELECT 'churned' AS op,
        |       (SELECT count(1) FROM
        |         (SELECT user_id FROM a EXCEPT SELECT user_id FROM b))
        |         AS n_users,
        |       TRUE AS approx_ok
        |UNION ALL
        |SELECT 'reach',
        |       (SELECT count(1) FROM
        |         (SELECT user_id FROM a UNION SELECT user_id FROM b)),
        |       TRUE
        |UNION ALL
        |SELECT 'retained',
        |       (SELECT count(1) FROM
        |         (SELECT user_id FROM a INTERSECT SELECT user_id FROM b)),
        |       TRUE
        |ORDER BY op""".stripMargin,
    // bounded oracle, quantile flavor: exact interpolated percentiles
    // (Spark percentile == DuckDB quantile_cont, the pinned
    // r_agg_percentile contract) + TRUE for the tolerance verdict
    "x_quantile_rollup" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS dt, event_type, value
        |           FROM events)
        |SELECT event_type,
        |       count(DISTINCT dt) AS n_sketches,
        |       count(1) AS n_events,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       TRUE AS approx_ok
        |FROM e GROUP BY event_type
        |UNION ALL
        |SELECT '__all__' AS event_type,
        |       count(DISTINCT concat(CAST(dt AS VARCHAR), '|', event_type))
        |         AS n_sketches,
        |       count(1) AS n_events,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       TRUE AS approx_ok
        |FROM e
        |ORDER BY event_type""".stripMargin,
    // bounded oracle, heavy-hitters flavor: exact counts of the tokens
    // above 2% support + TRUE for the bracket verdict (test-scale
    // sketches are in exact mode — vocab << maxMapSize — so the
    // NO_FALSE_NEGATIVES item set equals the exact HAVING set and the
    // lb/ub bracket is deterministic)
    "x_freq_rollup" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tot AS (SELECT count(1) AS n,
        |               count(DISTINCT lang) AS n_sketches FROM tok)
        |SELECT tok, n_sketches, count(1) AS exact_cnt, TRUE AS approx_ok
        |FROM tok, tot
        |GROUP BY tok, n, n_sketches
        |HAVING count(1) > floor(n * 0.02)
        |ORDER BY tok""".stripMargin,
    // vocab ids re-derived, then per-doc exact integer checksums of the
    // encoded id sequence (sum + position-weighted sum)
    "x_encode_ids" ->
      """WITH c AS (SELECT tok, count(1) AS cnt
        |           FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |                 FROM documents) GROUP BY tok
        |           ORDER BY cnt DESC, tok LIMIT 20),
        |v AS (SELECT tok, CAST(0 AS BIGINT) AS cnt, true AS is_special
        |      FROM (VALUES ('<pad>'), ('<unk>'), ('<bos>'), ('<eos>')) s(tok)
        |      UNION ALL
        |      SELECT tok, cnt, false FROM c),
        |ids AS (SELECT CAST(row_number() OVER
        |          (ORDER BY is_special DESC, cnt DESC, tok) - 1 AS BIGINT)
        |          AS token_id, tok
        |        FROM v),
        |unk AS (SELECT token_id AS unk_id FROM ids WHERE tok = '<unk>'),
        |t AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
        |      FROM (SELECT doc_id, string_split(text, ' ') AS wd
        |            FROM documents),
        |           unnest([{'pos': i - 1, 'tok': wd[i]}
        |                   for i in range(1, len(wd) + 1)]) z(u)),
        |e AS (SELECT doc_id, pos,
        |        COALESCE(ids.token_id, unk.unk_id) AS id,
        |        ids.token_id IS NULL AS is_oov
        |      FROM t LEFT JOIN ids USING (tok), unk)
        |SELECT doc_id, count(1) AS n_tokens,
        |       CAST(sum(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       CAST(sum(id) AS BIGINT) AS ids_sum,
        |       CAST(sum(id * (pos + 1)) AS BIGINT) AS ids_dot
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // add-1-smoothed multinomial NB: same log10 + 1e-4 fixed-point
    // walk as the Spark side; argmax ties to lang asc
    "x_nb_classify" ->
      """WITH tok AS (SELECT doc_id, lang,
        |               unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |cnt AS (SELECT lang AS plang, tok, count(1) AS c
        |        FROM tok GROUP BY 1, 2),
        |vs AS (SELECT count(DISTINCT tok) AS v FROM tok),
        |ls AS (SELECT plang, sum(c) AS t_l FROM cnt GROUP BY 1),
        |nl AS (SELECT lang AS plang, count(1) AS n_l
        |       FROM documents GROUP BY 1),
        |nt AS (SELECT count(1) AS n_corpus FROM documents),
        |langs AS (SELECT nl.plang,
        |            CAST(round(log10(CAST(n_l AS DOUBLE) / n_corpus)
        |              * 10000) AS BIGINT) AS prior_e4,
        |            CAST(round(log10(1.0 / (t_l + v)) * 10000) AS BIGINT)
        |              AS floor_e4
        |          FROM nl JOIN ls USING (plang), vs, nt),
        |model AS (SELECT tok, cnt.plang,
        |            CAST(round(log10(CAST(c + 1 AS DOUBLE) / (t_l + v))
        |              * 10000) AS BIGINT) AS logp_e4
        |          FROM cnt JOIN ls USING (plang), vs),
        |sc AS (SELECT t.doc_id, t.lang AS actual_lang, l.plang,
        |         l.prior_e4, COALESCE(m.logp_e4, l.floor_e4) AS tok_e4
        |       FROM tok t CROSS JOIN langs l
        |       LEFT JOIN model m ON m.tok = t.tok AND m.plang = l.plang),
        |ag AS (SELECT doc_id, any_value(actual_lang) AS actual_lang,
        |         plang,
        |         CAST(any_value(prior_e4) + sum(tok_e4) AS BIGINT)
        |           AS score_e4
        |       FROM sc GROUP BY doc_id, plang),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_e4 DESC, plang) AS rk FROM ag)
        |SELECT doc_id, actual_lang, plang AS pred_lang, score_e4,
        |       plang = actual_lang AS match
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // latest-per-key on both sides of the cutover, full-outer joined;
    // IS DISTINCT FROM mirrors the Spark null-safe value comparison
    "x_snapshot_diff" ->
      """WITH a AS (SELECT user_id, event_type, value AS old_value,
        |             row_number() OVER (PARTITION BY user_id, event_type
        |               ORDER BY ts DESC, event_id DESC) AS r
        |           FROM events
        |           WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |b AS (SELECT user_id, event_type, value AS new_value,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |          ORDER BY ts DESC, event_id DESC) AS r
        |      FROM events),
        |al AS (SELECT user_id, event_type, old_value, true AS ina
        |       FROM a WHERE r = 1),
        |bl AS (SELECT user_id, event_type, new_value, true AS inb
        |       FROM b WHERE r = 1),
        |j AS (SELECT user_id, event_type, old_value, new_value, ina, inb
        |      FROM al FULL OUTER JOIN bl USING (user_id, event_type)),
        |t AS (SELECT user_id, event_type, old_value, new_value,
        |        CASE WHEN ina IS NULL THEN 'added'
        |             WHEN inb IS NULL THEN 'removed'
        |             WHEN old_value IS DISTINCT FROM new_value
        |               THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM j)
        |SELECT user_id, event_type, old_value, new_value, status
        |FROM t WHERE status <> 'unchanged'
        |ORDER BY user_id, event_type""".stripMargin,
    // the unigram-LM scores re-derived, then the per-lang order-statistic
    // cutoff: keep rank <= ceil(0.75 * n_lang)
    "x_quality_filter" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, count(1) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |v AS (SELECT tok,
        |        CAST(round(log10(CAST(cnt AS DOUBLE) / total) * 10000) AS BIGINT)
        |          AS logp_e4
        |      FROM c, tot ORDER BY cnt DESC, tok LIMIT 20),
        |f AS (SELECT CAST(round(log10(1.0 / total) * 10000) AS BIGINT)
        |        AS floor_e4 FROM tot),
        |s AS (SELECT t.doc_id,
        |        coalesce(v.logp_e4, f.floor_e4) AS tok_e4
        |      FROM t LEFT JOIN v USING (tok), f),
        |sc AS (SELECT doc_id, count(1) AS n_tokens,
        |         CAST(sum(tok_e4) AS BIGINT) AS sum_logp_e4,
        |         CAST(sum(tok_e4) AS DOUBLE) / 10000 / count(1) AS avg_logp
        |       FROM s GROUP BY doc_id),
        |j AS (SELECT d.doc_id, d.lang, sc.n_tokens, sc.sum_logp_e4,
        |        sc.avg_logp
        |      FROM documents d JOIN sc USING (doc_id)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |        ORDER BY avg_logp DESC, doc_id) AS BIGINT) AS lang_rank,
        |        count(1) OVER (PARTITION BY lang) AS n_lang
        |      FROM j)
        |SELECT doc_id, lang, n_tokens, sum_logp_e4, avg_logp, lang_rank
        |FROM r WHERE lang_rank <= ceil(n_lang * 0.75)
        |ORDER BY doc_id""".stripMargin,
    // one row per profiled column: nulls + exact distincts
    "x_profile_table" ->
      ("SELECT * FROM (" +
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority").map { c =>
          s"""SELECT '$c' AS column_name, count(1) AS n_rows,
            |CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            |  AS n_null,
            |count(DISTINCT $c) AS n_distinct FROM orders""".stripMargin
        }.mkString("\n UNION ALL \n") +
        ") ORDER BY column_name"),
    // centroids re-derived (x_embed_centroid's CTE), then fixed-point
    // dot/norm sums and the per-label bottom-5 by cosine
    "x_embed_outlier" ->
      """WITH e AS (SELECT vec_id, label, unnest(embedding) AS x,
        |                  unnest(range(0, len(embedding))) AS pos
        |           FROM embeddings),
        |cent AS (SELECT label, pos,
        |           CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000)
        |             AS BIGINT)) AS DOUBLE) / 1000000 / count(1) AS centroid
        |         FROM e GROUP BY label, pos),
        |vc AS (SELECT e.vec_id, e.label,
        |         CAST(sum(CAST(round(CAST(e.x AS DOUBLE) * c.centroid
        |           * 1000000) AS BIGINT)) AS BIGINT) AS dot_e6,
        |         CAST(sum(CAST(round(CAST(e.x AS DOUBLE)
        |           * CAST(e.x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
        |           AS vv_e6
        |       FROM e JOIN cent c ON e.label = c.label AND e.pos = c.pos
        |       GROUP BY 1, 2),
        |cn AS (SELECT label,
        |         CAST(sum(CAST(round(centroid * centroid * 1000000)
        |           AS BIGINT)) AS BIGINT) AS cc_e6
        |       FROM cent GROUP BY 1),
        |sc AS (SELECT vc.label, vec_id,
        |         round(CAST(dot_e6 AS DOUBLE)
        |           / (sqrt(CAST(vv_e6 AS DOUBLE))
        |              * sqrt(CAST(cc_e6 AS DOUBLE))), 4) AS cos_c
        |       FROM vc JOIN cn USING (label)),
        |r AS (SELECT label, vec_id, cos_c,
        |        CAST(row_number() OVER (PARTITION BY label
        |          ORDER BY cos_c, vec_id) AS BIGINT) AS out_rank
        |      FROM sc)
        |SELECT label, vec_id, cos_c, out_rank FROM r
        |WHERE out_rank <= 5 ORDER BY label, out_rank""".stripMargin,
    // the full prepare lineage re-derived: unigram-LM quality filter
    // (order-statistic cutoff), boilerplate strip with the gram df over
    // the FILTERED corpus, then 30/30 chunking of the cleaned text
    "x_pipeline_prepare" ->
      """WITH qt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |qc AS (SELECT tok, count(1) AS cnt FROM qt GROUP BY 1),
        |qtot AS (SELECT sum(cnt) AS total FROM qc),
        |qv AS (SELECT tok,
        |         CAST(round(log10(CAST(cnt AS DOUBLE) / total) * 10000)
        |           AS BIGINT) AS logp_e4
        |       FROM qc, qtot ORDER BY cnt DESC, tok LIMIT 20),
        |qf AS (SELECT CAST(round(log10(1.0 / total) * 10000) AS BIGINT)
        |         AS floor_e4 FROM qtot),
        |qs AS (SELECT qt.doc_id,
        |         coalesce(qv.logp_e4, qf.floor_e4) AS tok_e4
        |       FROM qt LEFT JOIN qv USING (tok), qf),
        |qsc AS (SELECT doc_id,
        |          CAST(sum(tok_e4) AS DOUBLE) / 10000 / count(1)
        |            AS avg_logp
        |        FROM qs GROUP BY doc_id),
        |qj AS (SELECT d.doc_id, d.lang, qsc.avg_logp
        |       FROM documents d JOIN qsc USING (doc_id)),
        |qr AS (SELECT doc_id, lang, avg_logp,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY avg_logp DESC, doc_id) AS BIGINT) AS lrank,
        |         count(1) OVER (PARTITION BY lang) AS n_lang
        |       FROM qj),
        |keep AS (SELECT doc_id FROM qr
        |         WHERE lrank <= ceil(n_lang * 0.75)),
        |tw AS (SELECT d.doc_id, string_split(d.text, ' ') AS wd
        |       FROM documents d JOIN keep USING (doc_id)),
        |bg AS (SELECT doc_id, i AS p,
        |         array_to_string(list_slice(wd, i, i + 2), ' ') AS gram
        |       FROM tw, unnest(range(1, len(wd) - 1)) z(i)
        |       WHERE len(wd) >= 3),
        |hot AS (SELECT gram FROM (SELECT gram,
        |          count(DISTINCT doc_id) AS df2 FROM bg GROUP BY gram)
        |        WHERE df2 >= 4),
        |covt AS (SELECT doc_id, list_sort(list(DISTINCT cp)) AS cov
        |         FROM (SELECT DISTINCT doc_id, p + o AS cp
        |               FROM bg JOIN hot USING (gram),
        |                    unnest(range(0, 3)) zz(o))
        |         GROUP BY doc_id),
        |cl AS (SELECT tw.doc_id,
        |         array_to_string([wd[i] for i in range(1, len(wd) + 1)
        |                          if cov IS NULL
        |                             OR NOT list_contains(cov, i)], ' ')
        |           AS text
        |       FROM tw LEFT JOIN covt USING (doc_id)),
        |w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM cl),
        |st2 AS (SELECT doc_id, w,
        |          unnest(generate_series(1, len(w), 30)) AS s FROM w2),
        |c2 AS (SELECT doc_id, w, s,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
        |           AS chunk_id
        |       FROM st2)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(len(list_slice(w, CAST(s AS INT),
        |         CAST(s + 29 AS INT))) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(list_slice(w, CAST(s AS INT),
        |         CAST(s + 29 AS INT)), ' ') AS chunk_text
        |FROM c2 ORDER BY doc_id, chunk_id""".stripMargin,
    // the x_encode_ids CTE chain at vocabSize 50 joined on doc_id to
    // the x_pack_sequences prefix sum at budget 256 — the composed
    // encode-and-pack stage re-derived end-to-end
    "x_pipeline_tokenize" ->
      s"""WITH c AS (SELECT tok, count(1) AS cnt
        |           FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |                 FROM documents) GROUP BY tok
        |           ORDER BY cnt DESC, tok LIMIT 50),
        |v AS (SELECT tok, CAST(0 AS BIGINT) AS cnt, true AS is_special
        |      FROM (VALUES ('<pad>'), ('<unk>'), ('<bos>'), ('<eos>')) s(tok)
        |      UNION ALL
        |      SELECT tok, cnt, false FROM c),
        |ids AS (SELECT CAST(row_number() OVER
        |          (ORDER BY is_special DESC, cnt DESC, tok) - 1 AS BIGINT)
        |          AS token_id, tok
        |        FROM v),
        |unk AS (SELECT token_id AS unk_id FROM ids WHERE tok = '<unk>'),
        |t AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
        |      FROM (SELECT doc_id, string_split(text, ' ') AS wd
        |            FROM documents),
        |           unnest([{'pos': i - 1, 'tok': wd[i]}
        |                   for i in range(1, len(wd) + 1)]) z(u)),
        |e AS (SELECT doc_id,
        |        COALESCE(ids.token_id, unk.unk_id) AS id,
        |        ids.token_id IS NULL AS is_oov
        |      FROM t LEFT JOIN ids USING (tok), unk),
        |enc AS (SELECT doc_id, count(1) AS n_tokens,
        |          CAST(sum(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_oov,
        |          CAST(sum(id) AS BIGINT) AS ids_sum
        |        FROM e GROUP BY doc_id),
        |pt AS (SELECT doc_id,
        |         ${hash32("'pack:' || CAST(doc_id AS VARCHAR)")} AS h,
        |         len(string_split(text, ' ')) AS n_tokens
        |       FROM documents),
        |po AS (SELECT doc_id,
        |         COALESCE(sum(n_tokens) OVER (ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS start_tok
        |       FROM pt)
        |SELECT enc.doc_id, enc.n_tokens, n_oov, ids_sum,
        |       CAST(start_tok // 256 AS BIGINT) AS pack_id,
        |       CAST(start_tok % 256 AS BIGINT) AS pack_off
        |FROM enc JOIN po ON enc.doc_id = po.doc_id
        |ORDER BY enc.doc_id""".stripMargin,
    // gram-blocked entity resolution re-derived end-to-end: the same
    // deterministic one-char deletion, bigram sets, blocking join,
    // set-Jaccard, and (jacc desc, key asc) best-match rank
    "x_join_fuzzy" ->
      """WITH nat AS (SELECT n_nationkey, n_name FROM nation),
        |dirty AS (SELECT n_nationkey AS d_key,
        |            substr(n_name, 1,
        |              CAST(n_nationkey % length(n_name) AS INT))
        |            || substr(n_name,
        |              CAST(n_nationkey % length(n_name) AS INT) + 2)
        |              AS d_name
        |          FROM nat),
        |lg AS (SELECT d_key, d_name,
        |         list_distinct([substr(d_name, i, 2)
        |           for i in range(1, greatest(length(d_name) - 1, 1) + 1)])
        |           AS g
        |       FROM dirty),
        |rg AS (SELECT n_nationkey, n_name,
        |         list_distinct([substr(n_name, i, 2)
        |           for i in range(1, greatest(length(n_name) - 1, 1) + 1)])
        |           AS g
        |       FROM nat),
        |cand AS (SELECT DISTINCT d_key, n_nationkey
        |         FROM (SELECT d_key, unnest(g) AS gram FROM lg) a
        |         JOIN (SELECT n_nationkey, unnest(g) AS gram FROM rg) b
        |         USING (gram)),
        |sc AS (SELECT c.d_key, lg.d_name, c.n_nationkey, rg.n_name,
        |         round(CAST(len(list_intersect(lg.g, rg.g)) AS DOUBLE)
        |           / (len(lg.g) + len(rg.g)
        |              - len(list_intersect(lg.g, rg.g))), 4) AS jacc
        |       FROM cand c JOIN lg ON c.d_key = lg.d_key
        |                   JOIN rg ON c.n_nationkey = rg.n_nationkey),
        |r AS (SELECT *, row_number() OVER (PARTITION BY d_key
        |        ORDER BY jacc DESC, n_nationkey) AS rk
        |      FROM sc WHERE jacc >= 0.3)
        |SELECT d_key, d_name, n_nationkey, n_name, jacc
        |FROM r WHERE rk = 1 ORDER BY d_key""".stripMargin,
    // the exact-overlap complement of x_contamination: 5-gram hash
    // streams (distinct after hashing), global df cap, then the
    // cross-split equi-join overlap count — the Bloom prune on the
    // engine side is result-invariant by construction, so the oracle
    // simply omits it
    "x_contamination_ngram" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gr AS (SELECT doc_id,
        |         CASE WHEN len(w) >= 5
        |              THEN list_distinct(
        |                [array_to_string(list_slice(w, i, i + 4), ' ')
        |                 for i in range(1, len(w) - 3)])
        |              ELSE [array_to_string(w, ' ')] END AS grams
        |       FROM w),
        |exd AS (SELECT DISTINCT doc_id, g FROM
        |          (SELECT doc_id, ${hash32("s")} AS g
        |           FROM (SELECT doc_id, unnest(grams) AS s FROM gr))),
        |hot AS (SELECT g FROM (SELECT g, count(1) AS df FROM exd GROUP BY g)
        |        WHERE df > 20),
        |cl AS (SELECT doc_id, g FROM exd
        |       WHERE g NOT IN (SELECT g FROM hot)),
        |sp AS (SELECT doc_id,
        |         ${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
        |           AS is_train
        |       FROM documents),
        |j AS (SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
        |             count(1) AS n_shared
        |      FROM cl a JOIN sp sa ON a.doc_id = sa.doc_id
        |           JOIN cl b ON a.g = b.g
        |           JOIN sp sb ON b.doc_id = sb.doc_id
        |      WHERE sa.is_train AND NOT sb.is_train
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT train_id, eval_id, n_shared FROM j
        |WHERE n_shared >= 3 ORDER BY train_id, eval_id""".stripMargin,
    // BPE training re-derived in SQL: the 5 unrolled iterations' winning
    // merges (m_v1..m_v5), stamped with their iteration number
    // NOTE: bpeTrainCte is concatenated (not interpolated into a
    // stripMargin string) — its continuation lines start with `||`,
    // which an outer stripMargin would truncate to a lone `|`
    "x_bpe_train" ->
      (s"WITH $bpeTrainCte\n" +
        """SELECT CAST(iteration AS BIGINT) AS iteration, pair, merged,
        |       CAST(w AS BIGINT) AS weight
        |FROM (          SELECT 1 AS iteration, pair, merged, w FROM m_v1
        |      UNION ALL SELECT 2, pair, merged, w FROM m_v2
        |      UNION ALL SELECT 3, pair, merged, w FROM m_v3
        |      UNION ALL SELECT 4, pair, merged, w FROM m_v4
        |      UNION ALL SELECT 5, pair, merged, w FROM m_v5)
        |ORDER BY iteration""".stripMargin),
    // the segmentation the 5 learned merges induce on the vocabulary —
    // v5 IS the segmented state, so the apply side falls out of the
    // same unrolled training CTE
    "x_bpe_segment" ->
      (s"WITH $bpeTrainCte\n" +
        """SELECT word, freq,
        |       CAST(len(string_split(trim(syms), '  ')) AS BIGINT)
        |         AS n_symbols,
        |       replace(trim(syms), '  ', ' ') AS segmented
        |FROM v5 ORDER BY word""".stripMargin),
    "x_expect_constraints" ->
      """WITH m AS (SELECT count(1) AS n_rows,
        |         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null,
        |         count(DISTINCT o_orderkey) AS n_keys,
        |         sum(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
        |                       OR o_totalprice > 450000
        |                  THEN 1 ELSE 0 END) AS v_range,
        |         sum(CASE WHEN o_orderstatus IN ('O', 'F') THEN 0 ELSE 1 END)
        |           AS v_set
        |       FROM orders),
        |ri AS (SELECT count(1) AS v
        |       FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |       WHERE c_custkey IS NULL),
        |r AS (SELECT 'completeness_custkey' AS check_name,
        |             CAST(v_null AS BIGINT) AS violations FROM m
        |      UNION ALL SELECT 'uniqueness_orderkey',
        |                       CAST(n_rows - n_keys AS BIGINT) FROM m
        |      UNION ALL SELECT 'range_totalprice',
        |                       CAST(v_range AS BIGINT) FROM m
        |      UNION ALL SELECT 'accepted_status',
        |                       CAST(v_set AS BIGINT) FROM m
        |      UNION ALL SELECT 'ri_custkey', CAST(v AS BIGINT) FROM ri)
        |SELECT check_name, violations, violations = 0 AS passed
        |FROM r ORDER BY check_name""".stripMargin,
    // the x_dedup_cluster partition re-derived, then BOTH split
    // assignments (cluster-rep-keyed and naive doc-keyed) from the same
    // portable hash32, plus the per-cluster leakage audit of the naive one
    "x_split_leakage" ->
      s"""WITH RECURSIVE $minhashPairsCte,
        |mp AS (SELECT d1, d2 FROM jx
        |       WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8),
        |edges AS (SELECT d1 AS a, d2 AS b FROM mp
        |          UNION SELECT d2, d1 FROM mp),
        |reach(id, x) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.x = e.a),
        |lab AS (SELECT id, least(id, min(x)) AS rep_id FROM reach GROUP BY id),
        |wr AS (SELECT d.doc_id, coalesce(lab.rep_id, d.doc_id) AS rep_id
        |       FROM documents d LEFT JOIN lab ON d.doc_id = lab.id),
        |sp AS (SELECT doc_id, rep_id,
        |         ${hash32("'csplit:' || CAST(rep_id AS VARCHAR)")} % 100 AS cb,
        |         ${hash32("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS nb
        |       FROM wr),
        |lbl AS (SELECT doc_id, rep_id,
        |          CASE WHEN cb < 80 THEN 'train'
        |               WHEN cb < 90 THEN 'val' ELSE 'test' END AS split,
        |          CASE WHEN nb < 80 THEN 'train'
        |               WHEN nb < 90 THEN 'val' ELSE 'test' END AS naive_split
        |        FROM sp)
        |SELECT doc_id, rep_id, split, naive_split,
        |       min(naive_split) OVER (PARTITION BY rep_id)
        |         <> max(naive_split) OVER (PARTITION BY rep_id)
        |         AS cluster_leaky
        |FROM lbl ORDER BY doc_id""".stripMargin,
    // gram-blocked pair generation (x_join_fuzzy shape, symmetric) +
    // recursive-CTE connected components (x_dedup_cluster shape) over
    // the part-name entity universe
    "x_entity_resolve" ->
      """WITH RECURSIVE
        |cleanr AS (SELECT min(p_partkey) AS rec_id, p_name AS name
        |           FROM part GROUP BY p_name),
        |dirty AS (SELECT rec_id + 10000 AS rec_id,
        |            substr(name, 1, CAST(rec_id % length(name) AS INT))
        |            || substr(name, CAST(rec_id % length(name) AS INT) + 2)
        |              AS name
        |          FROM cleanr),
        |recs AS (SELECT rec_id, name FROM cleanr
        |         UNION ALL SELECT rec_id, name FROM dirty),
        |g AS (SELECT rec_id, name,
        |        list_distinct([substr(name, i, 2)
        |          for i in range(1, greatest(length(name) - 1, 1) + 1)]) AS g
        |      FROM recs),
        |cand AS (SELECT DISTINCT a.rec_id AS d1, b.rec_id AS d2
        |         FROM (SELECT rec_id, unnest(g) AS gram FROM g) a
        |         JOIN (SELECT rec_id, unnest(g) AS gram FROM g) b
        |           USING (gram)
        |         WHERE a.rec_id < b.rec_id),
        |pr AS (SELECT d1, d2 FROM cand
        |       JOIN g ga ON cand.d1 = ga.rec_id
        |       JOIN g gb ON cand.d2 = gb.rec_id
        |       WHERE round(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
        |         / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))),
        |         4) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
        |reach(id, x) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.x = e.a),
        |lab AS (SELECT id, least(id, min(x)) AS rep_id FROM reach GROUP BY id),
        |sz AS (SELECT rep_id, count(1) AS n FROM lab GROUP BY rep_id)
        |SELECT r.rec_id, r.name,
        |       coalesce(lab.rep_id, r.rec_id) AS entity_id,
        |       CAST(coalesce(sz.n, 1) AS BIGINT) AS entity_size
        |FROM recs r LEFT JOIN lab ON r.rec_id = lab.id
        |            LEFT JOIN sz ON lab.rep_id = sz.rep_id
        |ORDER BY r.rec_id""".stripMargin,
    // the x_dedup_embed candidate pairs, symmetrized and ranked into a
    // per-vector top-3 neighbor list
    "x_knn_graph" ->
      s"""WITH $embedPairsCte,
        |mp AS (SELECT v1, v2, round(cos_raw, 4) AS cos
        |       FROM p WHERE cos_raw >= 0.4),
        |sym AS (SELECT v1 AS src, v2 AS dst, cos FROM mp
        |        UNION ALL
        |        SELECT v2 AS src, v1 AS dst, cos FROM mp),
        |r AS (SELECT src, dst, cos,
        |        CAST(row_number() OVER (PARTITION BY src
        |          ORDER BY cos DESC, dst) AS BIGINT) AS rank
        |      FROM sym)
        |SELECT src, dst, cos, rank FROM r WHERE rank <= 3
        |ORDER BY src, rank""".stripMargin,
    "x_corpus_shuffle" ->
      s"""WITH k AS (SELECT doc_id,
        |             ${hash32("'shuffle:' || CAST(doc_id AS VARCHAR)")}
        |               AS shuf_key
        |           FROM documents)
        |SELECT doc_id, shuf_key,
        |       CAST(row_number() OVER (ORDER BY shuf_key, doc_id) - 1
        |            AS BIGINT) AS position
        |FROM k ORDER BY doc_id""".stripMargin)

  /** PageRank oracle: the k-NN edge CTE (as in `x_knn_graph`) plus the
    * three integer fixed-point iterations unrolled — floor division
    * everywhere, exactly the Spark-side arithmetic. */
  private lazy val graphRankOracle: String = {
    def round(i: Int, prev: String) =
      s"""c$i AS (SELECT ed.dst AS id, sum($prev.r_e9 // deg.deg) AS in_e9
        |      FROM ed JOIN $prev ON ed.src = $prev.id
        |              JOIN deg ON ed.src = deg.src GROUP BY 1),
        |r$i AS (SELECT nodes.id,
        |          (150000000 // n_nodes)
        |            + (85 * COALESCE(c$i.in_e9, 0)) // 100 AS r_e9
        |        FROM nodes LEFT JOIN c$i USING (id), nn)""".stripMargin
    s"""WITH $embedPairsCte,
      |mp AS (SELECT v1, v2, round(cos_raw, 4) AS cos
      |       FROM p WHERE cos_raw >= 0.4),
      |sym AS (SELECT v1 AS src, v2 AS dst, cos FROM mp
      |        UNION ALL SELECT v2 AS src, v1 AS dst, cos FROM mp),
      |kr AS (SELECT src, dst, row_number() OVER (PARTITION BY src
      |         ORDER BY cos DESC, dst) AS rk FROM sym),
      |ed AS (SELECT src, dst FROM kr WHERE rk <= 3),
      |nodes AS (SELECT DISTINCT id FROM
      |           (SELECT src AS id FROM ed
      |            UNION ALL SELECT dst AS id FROM ed)),
      |nn AS (SELECT count(1) AS n_nodes FROM nodes),
      |deg AS (SELECT src, count(1) AS deg FROM ed GROUP BY 1),
      |r0 AS (SELECT id, 1000000000 // n_nodes AS r_e9 FROM nodes, nn),
      |${round(1, "r0")},
      |${round(2, "r1")},
      |${round(3, "r2")}
      |SELECT id, CAST(r_e9 AS BIGINT) AS r_e9,
      |       CAST(r_e9 AS DOUBLE) / 1000000000 AS rank
      |FROM r3 ORDER BY id""".stripMargin
  }

  /** Sign-projection oracle: re-derives the ±1 matrix from the same
    * md5-based hash32 the Spark side precomputes driver-side, then the
    * identical e6 fixed-point multiply-add per output component. */
  private lazy val projOracle: String = {
    val cols = (0 until 8).map { i =>
      "CAST(list_sum([CAST(round(CAST(embedding[j + 1] AS DOUBLE)" +
        " * 1000000) AS BIGINT) * (CASE WHEN " +
        hash32(s"'proj:$i:' || CAST(j AS VARCHAR)") +
        s" % 2 = 0 THEN 1 ELSE -1 END) for j in range(0, 64)])" +
        s" AS DOUBLE) / 1000000 AS p$i"
    }.mkString(",\n       ")
    s"SELECT vec_id,\n       $cols\nFROM embeddings ORDER BY vec_id"
  }
}
