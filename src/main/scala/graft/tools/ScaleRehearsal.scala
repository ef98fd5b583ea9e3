package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Maintenance, SimilaritySearch}
import graft.streaming.StreamOps

/** Scale rehearsal for the dedup / connected-components / contamination
  * family: the cheapest evidence that the 100× story is real before the
  * operators meet a cluster.
  *
  * What it does (SCALING.md records the standing result):
  *   - synthesizes a 10× / 100× / 1000× corpus from the sf tables (see
  *     [[docs10x]] and [[docsBounded]] for the two cluster shapes);
  *   - sets `spark.sql.shuffle.partitions` to a cluster-like count
  *     (default 200 — the Spark default a 1000-executor job would start
  *     from — 400 at 100×, 1200 at 1000×) instead of the local 32;
  *   - runs every op through ONE protocol ([[runOps]]): restore the
  *     op's inputs (timed as `t_synth`), run the op in one
  *     `graft.Capture` window (timed as `sec`), count guard
  *     violations over EVERY execution the op fired (iterative CC
  *     rounds included) — any `CartesianProduct`, any undocumented
  *     `BroadcastNestedLoopJoin`, and at 100×/1000× pair fan-out
  *     above a constant cap;
  *   - prints one JSON line per block and, on full runs, merges it
  *     into `SCALE_REHEARSAL.json` under the block's mode key.
  *
  * Run: `SPARK_GRAFT_SF_DIR=<sf dir, default sf0.1>
  * SPARK_GRAFT_REHEARSAL_MODE=10x|100x|1000x|stream10x|skew10x sbt
  * "runMain graft.tools.ScaleRehearsal"`. Optional:
  * `SPARK_GRAFT_REHEARSAL_PARTS` (partition count),
  * `SPARK_GRAFT_REHEARSAL_ONLY` (comma-separated op subset — printed,
  * never written to the record), `SPARK_GRAFT_CPUS` (local cores).
  * [[runBlock]] is the entry point for callers that own a session.
  */
object ScaleRehearsal {

  // ---------------------------------------------------------------
  // Synthesis
  // ---------------------------------------------------------------

  /** Every row `replicas` times, with its replica index as `replica`.
    * A GENERATOR (explode of a literal sequence), not a crossJoin — a
    * join-free row multiplier, so the synthetic input adds zero join
    * nodes to any captured plan. */
  private def replicate(df: DataFrame, replicas: Long): DataFrame =
    df.select(col("*"),
      explode(sequence(lit(0L), lit(replicas - 1))).as("replica"))

  /** 10× documents: 5 verbatim replicas (dense duplicate clusters) + 5
    * perturbed ones (distinct mass). doc_id spaces are disjoint by
    * replica stripe. */
  private def docs10x(docs: DataFrame): DataFrame =
    replicate(docs, 10)
      .select(
        (col("doc_id") + col("replica") * lit(10000000L)).as("doc_id"),
        when(col("replica") < 5, col("text"))
          .otherwise(concat(col("text"), lit(" uniq"), col("replica")))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))

  /** 10× embeddings: verbatim + slightly scaled copies (pure scaling
    * preserves direction, so cosine stays 1 and LSH still pairs the
    * replicas — CC load stays maximal). Cast back to array<float>: the
    * similarity expressions type-check on FloatType. */
  private def vecs10x(vecs: DataFrame): DataFrame =
    replicate(vecs, 10)
      .select(
        (col("vec_id") + col("replica") * lit(10000000L)).as("vec_id"),
        when(col("replica") < 5, col("embedding"))
          .otherwise(transform(col("embedding"),
            x => x * (lit(1.0) + col("replica").cast("double") / lit(1000d)))
            .cast("array<float>"))
          .as("embedding"),
        col("label"))

  /** 100×/1000× documents with BOUNDED duplicate clusters: replicas
    * whose stripe residue (modulo half the replica count) is < 5 — five
    * in each contamination half — stay verbatim, so every source doc
    * forms one 10-member near-dup cluster whose pair count C(10,2) is
    * CONSTANT in corpus scale; the other replicas get every odd word
    * suffixed with a replica tag, which breaks every 3-shingle (any 3
    * consecutive words contain a tagged one) and makes their shingle
    * sets mutually disjoint. Pair fan-out per document must therefore
    * FALL as the corpus grows — the sub-linear property the 100× and
    * 1000× blocks assert. (The 10× synthesis keeps the
    * all-replicas-near-dup worst case; at 100× that shape would measure
    * the data's quadratic duplicate mass, not the operators.) */
  private def docsBounded(docs: DataFrame, replicas: Long): DataFrame =
    replicate(docs, replicas)
      .select(
        (col("doc_id") + col("replica") * lit(10000000L)).as("doc_id"),
        when(col("replica") % (replicas / 2).toInt < 5, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+) (\\S+)"),
            concat(lit("$1u"), col("replica"), lit(" $2"))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))

  /** 100×/1000× embeddings, same bounded-cluster principle: stripe
    * residue < 5 keeps the vector verbatim (10-member cosine-1
    * clusters), the rest become deterministic random directions via iid
    * hash-uniform components (xxhash64 of (vec_id, replica, position) →
    * [-1, 1]). Pairwise cosine of such vectors concentrates at 0 with sd
    * 1/√dim (≈0.125 at dim 64), so essentially no random pair clears an
    * LSH threshold like 0.4 — pair mass stays linear in the corpus.
    * (A sinusoid family sin(phase + c·i) would NOT work here: those
    * vectors span a 2-D subspace and their pairwise cosine is
    * cos(Δphase), putting ~37% of pairs over 0.4 — quadratic blow-up.) */
  private def vecsBounded(vecs: DataFrame, replicas: Long): DataFrame =
    replicate(vecs, replicas)
      .select(
        (col("vec_id") + col("replica") * lit(10000000L)).as("vec_id"),
        when(col("replica") % (replicas / 2).toInt < 5, col("embedding"))
          .otherwise(expr(
            "cast(transform(embedding, (x, i) -> " +
              "(pmod(xxhash64(vec_id, replica, i), 2001) - 1000) / 1000.0" +
              ") as array<float>)"))
          .as("embedding"),
        col("label"))

  /** One replica's time shift: the full 31-day corpus span, so replicas
    * tile TIME and event density per unit time is constant in scale. */
  private val replicaSpan = lit(31L * 24 * 3600)

  /** Intervals for the anchor-free overlap join: purchase windows
    * [ts, ts+120s), time-tiled — interval density per unit time (and
    * with it per-row fan-out) is CONSTANT in corpus scale, so the binned
    * join's output must grow linearly, an all-pairs plan quadratically. */
  private def intervals(events: DataFrame, replicas: Long): DataFrame =
    replicate(events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts").cast("long").as("s0")), replicas)
      .select(
        (col("event_id") + col("replica") * lit(1000000000L)).as("event_id"),
        (col("s0") + col("replica") * replicaSpan).as("s"))
      .withColumn("e", col("s") + lit(120L))

  /** Events for the sketch-store build: same time tiling, users SHARED
    * across replicas (the realistic "same audience, more days" shape),
    * so the store grows with the day-grain group count while per-group
    * distinct cardinality is constant. */
  private def sketchEvents(events: DataFrame, replicas: Long): DataFrame =
    replicate(events.select(col("ts").cast("long").as("s0"),
        col("event_type"), col("user_id"), col("value")), replicas)
      .select(
        to_date(from_unixtime(col("s0") + col("replica") * replicaSpan))
          .as("event_date"),
        col("event_type"), col("user_id"), col("value"))

  /** KEYED events for the stats/merge rows: unique event_id per replica
    * (base + replica·1e9), so the frame range-clusters into
    * non-overlapping per-file key ranges — the layout data skipping and
    * COW merge contractually require. */
  private def keyedEvents(events: DataFrame, replicas: Long): DataFrame =
    replicate(events.select(col("event_id"), col("user_id"),
        col("event_type"), col("value")), replicas)
      .select(
        (col("event_id") + col("replica") * lit(1000000000L)).as("event_id"),
        col("user_id"), col("event_type"), col("value"))

  /** Order-insensitive checksum of a (doc_id, rep_id, cluster_size)
    * label set that cannot overflow under ANSI arithmetic (a raw sum of
    * full-range xxhash64 longs does): XOR plus a modular sum of the row
    * hashes, plus the row count — together multiset equality evidence
    * over distinct label rows. */
  private def labelFingerprint(df: DataFrame): Seq[Long] = {
    val r = df
      .select(xxhash64(col("doc_id"), col("rep_id"),
        col("cluster_size")).as("h"))
      .agg(expr("bit_xor(h)").as("x"),
        sum(pmod(col("h"), lit(1000000007L))).as("s"),
        count(lit(1)).as("n")).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  // ---------------------------------------------------------------
  // The rehearsal protocol
  // ---------------------------------------------------------------

  /** A block input synthesized on first use, so a subset run pays only
    * for what its ops read. [[pin]] re-declares the storage level (a
    * cache clear drops the registration, not just the blocks) and
    * materializes the frame. [[runOps]] pins a block's resident corpora
    * before any timing and in every rep's `t_synth`; an op pins its own
    * inputs from its `extras` entry, also inside `t_synth`. */
  private final class Corpus(level: StorageLevel = StorageLevel.MEMORY_AND_DISK)(
      build: => DataFrame) {
    lazy val df: DataFrame = build
    private var n = -1L
    def pin(): Unit = n = df.persist(level).count()
    def forced: Boolean = n >= 0
    def rows: Long = { if (!forced) pin(); n }
  }

  /** A one-time input manufacture (a staged table or index), run from
    * the first consuming op's `extras` entry — inside `t_synth`. */
  private final class Once(make: => Unit) {
    private var done = false
    def apply(): Unit = if (!done) { make; done = true }
    def ran: Boolean = done
  }

  /** One op's measurements: per-rep `t_synth` and op seconds, its
    * (rep-invariant) row count, and plan-guard hits over all reps. */
  private final case class Measured(name: String, synth: Seq[Double],
      secs: Seq[Double], rows: Long, cartesian: Int, bnlj: Int)

  /** Time each selected op in TWO phases, capture every plan the op
    * phase fired, count guard violations.
    *
    * Phase split (round-13 finding, the `sketch1000x` probe): the
    * one-phase protocol timed synthetic-input manufacture and the
    * operator BUNDLED — the 1000× sketch_build row read 565.7 s of
    * which 442.2 s was re-synthesizing the 100M-event input after the
    * previous op's cache clear. Every rep now first restores the op's
    * inputs (`resident` for the block-shared corpora plus the op's
    * `extras` entry for op-specific frames and manufacture) as
    * `t_synth`, then runs the operator against warm inputs as `sec` —
    * so the committed per-op number is operator-attributable. At 100 TB
    * the input is a table on disk, not a synthesis lineage: `sec` is
    * the number that projects.
    *
    * `reps` > 1 runs an op back-to-back that many times inside the one
    * (warmed) JVM — each rep re-constructs the DataFrame and clears the
    * cache, so per-rep cost includes construction jobs, exactly like a
    * fresh run — and reports the MIN with every rep recorded. Rationale
    * (round-11, the ppjoin_cand spread fix): across five separate full
    * runs the cand sub-phase spread [25.2, 69.4] s — between-JVM noise
    * (JIT, GC heap layout, co-tenant stalls) landing unevenly, not plan
    * cost; back-to-back in-JVM reps isolate the op and the recorded
    * spread bounds the residual noise. Guard counts accumulate over ALL
    * reps. The 1-based rep index is handed to both `extras` and the op
    * (ops that need a fresh root per rep name it by the index). */
  private def runOps(
      spark: SparkSession,
      ops: Seq[(String, Int => DataFrame)],
      only: Option[Set[String]],
      resident: Seq[Corpus] = Nil,
      reps: Int = 1,
      extras: Map[String, Int => Unit] = Map.empty): Seq[Measured] = {
    // a typo'd op name would silently select zero ops — fail loudly
    // against THIS block's op list instead
    only.foreach { names =>
      val known = ops.map(_._1).toSet
      val unknown = names.filterNot(known)
      require(unknown.isEmpty,
        s"unknown SPARK_GRAFT_REHEARSAL_ONLY ops for this block: " +
          s"${unknown.mkString(", ")} (known: ${known.toSeq.sorted.mkString(", ")})")
    }
    // the shared corpora are synthesized once before any timing, so no
    // op's t_synth carries their first synthesis
    resident.foreach(_.pin())
    ops.filter(o => only.forall(_(o._1))).map { case (name, f) =>
      var rows = -1L
      var cartesian = 0
      var bnlj = 0
      val timed = (1 to reps).map { rep =>
        // phase 1 — input restoration (t_synth): re-pin and
        // re-materialize what the previous rep's cache clear dropped
        val tS = System.nanoTime()
        resident.foreach(_.pin())
        extras.get(name).foreach(_(rep))
        val synthSecs = (System.nanoTime() - tS) / 1e9
        // phase 2 — the operator, inputs warm, in one capture window
        // (restoration above and the row count below are not the op's)
        val (df, cap) = graft.Capture.during(spark) {
          val df = f(rep)
          df.write.mode("overwrite").format("noop").save()
          df
        }
        val all = cap.executions.map(_.executedPlan.toString)
        cartesian += all.count(_.contains("CartesianProduct"))
        bnlj += all.count(_.contains("BroadcastNestedLoopJoin"))
        // every rep's row count goes through the fan-out gate: a
        // rep-to-rep divergence is exactly the nondeterminism this
        // harness exists to catch, so it must fail, not be masked by
        // last-rep-wins
        val repRows = df.count()
        require(rows < 0 || repRows == rows,
          s"$name: rep $rep produced $repRows rows, earlier rep(s) $rows")
        rows = repRows
        spark.catalog.clearCache()
        (synthSecs, cap.secs)
      }
      val secRuns = timed.map(_._2)
      System.err.println(
        f"[rehearsal] $name: ${secRuns.min}%.1f s op (runs ${secRuns.map(s => f"$s%.1f").mkString("/")}) + ${timed.map(_._1).min}%.1f s synth, $rows rows")
      Measured(name, timed.map(_._1), secRuns, rows, cartesian, bnlj)
    }
  }

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  private def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  /** A JSON object from already-rendered values. */
  private def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def str(s: String): String = "\"" + s + "\""

  /** The one record step: a block's JSON line, led by its mode and sf. */
  private def record(mode: String, sfDir: String,
      fields: Seq[(String, Any)]): String =
    obj(Seq("rehearsal" -> str(mode), "sf" -> str(sfDir)) ++ fields)

  /** The guard verdict field; violators are named on stderr. */
  private def verdict(mode: String, bad: Seq[String]): String = {
    if (bad.nonEmpty)
      System.err.println(s"[rehearsal] $mode guard violated: ${bad.mkString(", ")}")
    str(if (bad.isEmpty) "PASS" else "FAIL")
  }

  /** Pair fan-out gate: rows per input row (`denom`) of the `capped`
    * ops must stay below [[FanoutCap]] — a quadratic pairing path blows
    * through it immediately. */
  private final case class Fanout(denom: String => Long, capped: String => Boolean)

  private val FanoutCap = 10.0

  /** The batch blocks' tail: guard every measured op (cartesian, BNLJ
    * outside `bnljAllowed`, fan-out), then build the record. `fields`
    * precede the protocol fields; `audits` follow them. */
  private def batchRecord(mode: String, sfDir: String,
      results: Seq[Measured], fields: Seq[(String, Any)], reps: Int,
      fanout: Option[Fanout] = None, bnljAllowed: Set[String] = Set.empty,
      audits: Seq[(String, Any)] = Nil): String = {
    def fo(m: Measured): Option[Double] =
      fanout.map(f => m.rows.toDouble / f.denom(m.name))
    val bad = results.filter { m =>
      m.cartesian > 0 || (m.bnlj > 0 && !bnljAllowed(m.name)) ||
        fanout.exists(f => f.capped(m.name) && fo(m).get > FanoutCap)
    }.map(_.name)
    val runs = (xs: Seq[Double]) => xs.map(r2).mkString("[", ",", "]")
    val ops = obj(results.map { m =>
      m.name -> obj(Seq("sec" -> r2(m.secs.min)) ++
        (if (reps > 1) Seq("sec_runs" -> runs(m.secs)) else Nil) ++
        Seq("t_synth" -> r2(m.synth.min)) ++
        (if (reps > 1) Seq("t_synth_runs" -> runs(m.synth)) else Nil) ++
        Seq("rows" -> m.rows) ++
        fo(m).map(x => "per_row_fanout" -> math.round(x * 1000) / 1000.0) ++
        Seq("cartesian" -> m.cartesian, "bnlj" -> m.bnlj))
    })
    record(mode, sfDir, fields ++
      (if (reps > 1) Seq("reps" -> reps) else Nil) ++
      fanout.map(_ => "fanout_cap" -> FanoutCap) ++ audits ++
      Seq("ops" -> ops, "plan_guard" -> verdict(mode, bad)))
  }

  // ---------------------------------------------------------------
  // Blocks: each declares its inputs, ops and contracts, and returns
  // its record line
  // ---------------------------------------------------------------

  /** A rehearsal block: (session, sfDir, partitions, op subset) => its
    * record line. Blocks neither stop the session nor write the file. */
  private type Block = (SparkSession, String, Int, Option[Set[String]]) => String

  /** The synthesized corpus is repartitioned once at synthesis time: a
    * real corpus this size arrives as many parquet splits, while the
    * row-multiplying explode inherits the sf scan's 1-2 partitions —
    * without this every op's FIRST map stage (shingling, hashing,
    * row-local sketches) runs on 1-2 cores, measuring the synthetic
    * input layout instead of the operator. */
  private def corpus(parts: Int,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)(
      build: => DataFrame): Corpus =
    new Corpus(level)(build.repartition(parts))

  /** The 10× block: worst-case duplicate clusters ([[docs10x]]), every
    * dedup / similarity / text family op once; guard = zero cartesian,
    * zero undocumented BNLJ. */
  private def run10x(spark: SparkSession, sfDir: String, parts: Int,
      only: Option[Set[String]]): String = {
    // shared input of every op — synthesized once, resident throughout
    val docs = corpus(parts)(docs10x(graft.Tables(spark, sfDir, "documents")))
    val vecs = corpus(parts)(vecs10x(graft.Tables(spark, sfDir, "embeddings")))
    // contamination halves: replica stripes 0-4 vs 5-9 share no doc_id
    lazy val corpusA = docs.df.filter(col("doc_id") < 50000000L)
    lazy val corpusB = docs.df.filter(col("doc_id") >= 50000000L)
      .select((col("doc_id") - 50000000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    def minhashPairs() = Dedup.nearDupMinHash(docs.df, k = 3, numHashes = 32,
      bands = 8, threshold = 0.8).select("d1", "d2")
    // scale-sized LSH: 8-bit band keys (the operator's documented rule —
    // band bits ~ log2(corpus) for O(1) bucket occupancy). The declared
    // sf0.01 query keeps 2-bit bands for its threshold-hugging tail; at
    // 20k vectors 2-bit bands mean 4 buckets/band and quadratic
    // candidates (first rehearsal run measured 765 s) — the knob, not
    // the shape, is what changes
    def lshPairs() = SimilaritySearch.cosinePairsLsh(vecs.df, threshold = 0.4,
      nBits = 64, rowsPerBand = 8)
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "exact" -> (_ => Dedup.exact(docs.df)),
      "minhash" -> (_ => Dedup.nearDupMinHash(docs.df, k = 3,
        numHashes = 32, bands = 8, threshold = 0.8)),
      "ppjoin" -> (_ => Dedup.nearDupJaccard(docs.df, k = 3, threshold = 0.8)),
      "cluster_hashmin" -> (_ => Dedup.clusters(minhashPairs().persist())),
      "cluster_star" -> (_ => Dedup.clustersStar(minhashPairs().persist())),
      "contamination" -> (_ => Dedup.crossDupMinHash(corpusA, corpusB,
        k = 3, numHashes = 32, bands = 8, threshold = 0.8)),
      "embed_cluster" -> (_ => Dedup.clusters(lshPairs()
        .select(col("v1").as("d1"), col("v2").as("d2")).persist())),
      // the span pairing join is the newest quadratic-potential site:
      // 5 verbatim replicas per source doc push every span's df to ≥5,
      // so the rehearsal exercises the df-cap doing real work — spans
      // shared beyond maxDf docs (corpus templates) must die BEFORE the
      // self-join, keeping fan-out ≤ maxDf² per span
      "shared_spans" -> (_ =>
        Dedup.sharedSpans(docs.df, k = 8, maxDf = 10, minShared = 3)),
      // row-local winnowing at 10× volume: guards the lambda-binding fix
      // (an InferFiltersFromGenerate regression would blow this up
      // ~100×, not ~10%)
      "winnow" -> (_ => graft.operators.TextAnalysis.winnow(docs.df, k = 3, w = 4)),
      // boilerplate strip under maximal template pressure: 5 verbatim
      // replicas push every gram's df ≥ 5, so nearly every position is
      // covered — the covered-set aggregate does its worst-case work
      "boilerplate_strip" -> (_ =>
        graft.operators.TextAnalysis.boilerplateStrip(docs.df, n = 3, minDocs = 4)),
      // k-NN graph over the scale-sized LSH pairs: per-vector degree
      // stays bucket-bounded even with 5-member duplicate clusters
      "knn_graph" -> (_ => SimilaritySearch.knnGraph(lshPairs().persist(), k = 3)),
      // exact n-gram decontamination at 10×: the df cap and the
      // eval-side Bloom prune both do real work — 5 verbatim replicas per
      // source doc push every gram's df toward ≥10 (so the cap kills
      // template grams BEFORE pairing), and the Bloom filter shrinks the
      // train-side gram stream ahead of the exchange
      "ngram_overlap" -> (_ => Dedup.ngramOverlap(corpusA, corpusB,
        n = 5, minShared = 3, maxDf = 20, bloomExpectedItems = 1L << 21)),
      // composed tokenize at 10×: the vocab aggregate + broadcast encode
      // + prefix-sum packing must keep their shapes when the corpus is
      // 10× and partitions are cluster-like — the packing driver state
      // stays O(partitions) scalars by construction
      "tokenize_pack" -> (_ =>
        graft.operators.Curation.tokenize(docs.df, vocabSize = 50, budget = 256)),
      // PQ at 10× vectors: training stays bounded-driver (m × iters
      // jobs), encoding must remain one shuffle-free projection
      "pq_encode" -> (_ =>
        SimilaritySearch.pqEncode(vecs.df, m = 2, codebookSize = 16, iters = 2)),
      // iterative PageRank over the 10× similarity graph: the
      // localCheckpoint lineage cut + scalar constants must hold at
      // cluster-like partition counts (3 join+agg rounds, no BNLJ)
      "graph_rank" -> (_ => graft.operators.GraphRank.pageRank(
        SimilaritySearch.knnGraph(lshPairs().persist(), k = 3)
          .select("src", "dst"),
        iterations = 3)),
      // triangle census over the 10× similarity graph: the 10-member
      // verbatim clusters are maximal transitivity pressure (each is a
      // K10 — C(10,3)=120 triangles per source doc), so the degree
      // orientation must keep wedge enumeration at the low endpoint
      // (arboricity bound) instead of squaring hub neighborhoods
      "triangles" -> (_ =>
        graft.operators.GraphRank.triangleCounts(minhashPairs().persist())),
      // composed IVF+PQ at 10× vectors with scale-sized cells (16 cells
      // ⇒ ~1.25k vectors/cell): training stays bounded-driver (3 k-means
      // runs), candidates come from the broadcast equi-join on cell —
      // candidate mass ≈ nProbe/nCentroids of the corpus per query
      // regardless of corpus size
      "ivf_pq" -> (_ => SimilaritySearch.ivfPqTopK(vecs.df, nQueries = 5, k = 5,
        nCentroids = 16, nProbe = 4, m = 2, codebookSize = 16, iters = 2)),
      // incremental crawl dedup at 10×: only (digest, id) shuffles — the
      // corpus side collapses to its distinct digest index before the
      // LEFT ANTI, text never moves
      "incremental_exact" -> (_ => Dedup.incrementalExact(docs.df)),
      // image aHash pairing at 10×: real BMP parse then the blocked
      // Hamming pigeonhole equi-join — never all-pairs
      "phash_pairs" -> (_ => Dedup.hammingPairs32(
        graft.operators.Multimodal.imageAHash(spark, docs.df).toDF(),
        idCol = "doc_id", hashCol = "ahash32", maxHamming = 6)),
      // DSIR importance selection at 10×: bucket LMs broadcast onto the
      // token stream, 1-row total scalars, one doc aggregate
      "select_dsir" -> (_ => graft.operators.Curation.importanceResample(docs.df)),
      // the composed CCNet pipeline at 10×: exact dedup → LM scoring →
      // tertile split, every stage the already-rehearsed shape
      "pipeline_ccnet" -> (_ => graft.operators.Curation.ccnet(docs.df)),
      // MMR rerank at 10× corpus: the candidate pool stays nCand per
      // query by construction, so only the pool-building scan grows —
      // the greedy steps' frames are constant-sized
      "mmr_rerank" -> (_ =>
        SimilaritySearch.mmrRerank(vecs.df, nQueries = 5, nCand = 20, k = 5)),
      // RRF fusion at 10×: three per-language rank windows over one scan
      // — no global sort, no join
      "quality_rrf" -> (_ => graft.operators.TextAnalysis.rrfQuality(docs.df)))
    val results = runOps(spark, ops, only, resident = Seq(docs, vecs))
    batchRecord("10x", sfDir, results,
      Seq("n_docs" -> docs.rows, "n_vecs" -> vecs.rows, "partitions" -> parts),
      reps = 1,
      // the documented 1-row-scalar / tiny-grid broadcasts PlanGuardSpec
      // allowlists for the declared queries: tokenize's <unk>-id scalar,
      // IVF's centroid grid, DSIR's LM-total scalars, CCNet's inherited
      // LM/tertile scalars; mmr_rerank inherits x_sim_topk's broadcast
      // query grid for its candidate pool
      bnljAllowed = Set("tokenize_pack", "ivf_pq", "select_dsir",
        "pipeline_ccnet", "mmr_rerank"))
  }

  /** The 100× block: 500k docs / 200k vectors at a 400-partition
    * cluster-like layout (from sf0.1), min-of-3 reps per op. Beyond the
    * zero-cartesian/zero-BNLJ guard, this block asserts SUB-LINEAR pair
    * fan-out: with bounded 10-member duplicate clusters
    * ([[docsBounded]]), candidate/verified pairs per input row must stay
    * below a constant (10) — a quadratic pairing path would blow through
    * it immediately (500k docs all-pairs ≈ 250k pairs/doc). */
  private def run100x(spark: SparkSession, sfDir: String, parts: Int,
      only: Option[Set[String]]): String = {
    val events = graft.Tables(spark, sfDir, "events")
    val docs = corpus(parts)(docsBounded(graft.Tables(spark, sfDir, "documents"), 100))
    val vecs = corpus(parts)(vecsBounded(graft.Tables(spark, sfDir, "embeddings"), 100))
    val ivs = corpus(parts)(intervals(events, 100))
    val sketchEv = corpus(parts)(sketchEvents(events, 100))
    val keyed = corpus(parts)(keyedEvents(events, 100))
    // contamination halves: replica stripes 0-49 vs 50-99; each holds
    // five verbatim replicas of every source doc, so real cross-corpus
    // duplicate mass exists (5×5 pairs per source) while staying linear
    def halfA(df: DataFrame, id: String) = df.filter(col(id) < 500000000L)
    def halfB(df: DataFrame, id: String) = df.filter(col(id) >= 500000000L)
      .withColumn(id, col(id) - 500000000L)
    lazy val corpusA = halfA(docs.df, "doc_id")
    lazy val corpusB = halfB(docs.df, "doc_id")
    // LSH knob at 200k vectors: 16-bit band keys (~ log2(corpus)), the
    // operator's documented bucket-occupancy rule — shape unchanged
    def embedPairs() = SimilaritySearch.cosinePairsLsh(
      vecs.df, threshold = 0.4, nBits = 64, rowsPerBand = 16)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    def minhashPairs() = Dedup.nearDupMinHash(docs.df, k = 3,
      numHashes = 32, bands = 8, threshold = 0.8).select("d1", "d2")
    // One-time staging (input manufacture, outside every op timing).
    // Each drops the staging run's internal persists and re-pins the
    // resident corpora, so the consuming op starts from the same
    // resident inputs as every other op.
    def staging(make: => Unit) = new Once({
      make; spark.catalog.clearCache(); docs.pin(); vecs.pin()
    })
    // The similarity-graph pair table is STAGED once: a production
    // census runs over the dedup pass's already-materialized pairs, so
    // timing the census with a fresh in-lambda MinHash derivation (the
    // round-7 shape) measured the pair generation, not the operator.
    // Generation is its own guarded op (`minhash_pairs`).
    val pairsDir = Maintenance.scratchDir("graft_tri_pairs")
    val stagePairs = staging(
      minhashPairs().write.mode("overwrite").parquet(pairsDir))
    def stagedPairs() = spark.read.parquet(pairsDir).select(col("d1"), col("d2"))
    // frozen decontamination index (the serving artifact the per-batch
    // gate probes): built from the eval half ONCE and round-tripped
    // through parquet
    val gateDir = Maintenance.scratchDir("graft_gate_idx")
    val stageGate = staging {
      val (sh, bands) =
        Dedup.contaminationIndex(corpusB, k = 3, numHashes = 32, bands = 8)
      sh.write.mode("overwrite").parquet(s"$gateDir/sh")
      bands.write.mode("overwrite").parquet(s"$gateDir/bands")
    }
    // staged crawl-batch files for the incremental cluster op (three
    // batches by doc_id residue)
    lazy val incrRun = StreamOps.StagedStream.lasting("graft_incr_src")
    val stageIncr = staging(StreamOps.incrClusterStage(
      docs.df.select(col("doc_id"), col("text")), incrRun, 3))
    // the two CC formulations keep a handle on their constructed frames:
    // both loops end in a Lineage.truncate fixpoint, so the post-run
    // equality audit reads the already-materialized labels instead of
    // re-running the rounds
    var ccHashMin: DataFrame = null
    var ccStar: DataFrame = null
    // maintenance-op scratch: each rep of a table-writing op gets a
    // fresh root named by its rep index (the manifest is append-only);
    // the whole tree is reclaimed at JVM exit
    val maintDir = Maintenance.scratchDir("graft_maint100")
    def root(tag: String, rep: Int) = s"$maintDir/${tag}_rep$rep"
    def statsRow(fields: (String, Long)*): DataFrame =
      spark.range(1).select(fields.map { case (k, v) => lit(v).as(k) }: _*)
    def dayState() = sketchEv.df.groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    // COW inputs, pre-staged in t_synth — a real merge is GIVEN its
    // source: ~11k source rows (10k localized updates + 1k new keys),
    // and a ~3.3k-key localized purge set
    val cowSource = new Corpus()({
      val lo = 42L * 1000000000L + 10000L
      keyed.df.filter(col("event_id").between(lo, lo + 9999L))
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") * 2)
        .unionByName(keyed.df.filter(col("event_id").between(lo, lo + 999L))
          .withColumn("event_id", col("event_id") + lit(1000000000000000L))
          .withColumn("event_type", lit("inserted")))
    })
    val cowDoomed = new Corpus()({
      val lo = 17L * 1000000000L + 50000L
      keyed.df.filter(col("event_id").between(lo, lo + 9999L) &&
        col("event_id") % 3 === 0).select("event_id")
    })
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "ppjoin" -> (_ => Dedup.nearDupJaccard(docs.df, k = 3, threshold = 0.8)),
      // sub-phase rows: candidate generation timed WITHOUT the exact
      // verify join, so the standing record shows which phase carries
      // each operator's cost (they scale on different axes — candidates
      // with posting collisions, verify with output pairs); verify cost
      // = full row − cand row
      "ppjoin_cand" -> (_ => Dedup.jaccardCandidates(docs.df, k = 3, threshold = 0.8)),
      "minhash_cand" -> (_ =>
        Dedup.minHashCandidates(docs.df, k = 3, numHashes = 32, bands = 8)),
      "embed_pairs" -> (_ => embedPairs()),
      "embed_cluster" -> (_ => Dedup.clusters(embedPairs().persist())),
      "ngram_overlap" -> (_ => Dedup.ngramOverlap(corpusA, corpusB,
        n = 5, minShared = 3, maxDf = 20, bloomExpectedItems = 1L << 24)),
      // cross-corpus decontamination at 100×: candidates join BETWEEN the
      // two banded indexes, so cost is O(|A|+|B|) signatures +
      // true-duplicate verify mass (5×5 verbatim cross pairs per source
      // doc/vec by construction)
      "contamination_minhash" -> (_ => Dedup.crossDupMinHash(
        corpusA, corpusB, k = 3, threshold = 0.8, numHashes = 32, bands = 8)),
      // vector halves on the same stripe split; sign-LSH knobs follow the
      // documented bucket-occupancy rule at 100k vectors per side
      "contamination_embed" -> (_ => SimilaritySearch.crossCosineLsh(
        halfA(vecs.df, "vec_id"), halfB(vecs.df, "vec_id"),
        threshold = 0.4, nBits = 64, rowsPerBand = 16)),
      // incremental index refresh at 100×: training = bounded-driver
      // Lloyd aggregates over the base split, delta assign = one
      // zero-shuffle literal-centroid projection; output rows must be
      // EXACTLY nVecs (fan-out 1.0 — any duplication is a bug)
      "ivf_refresh" -> (_ => SimilaritySearch.ivfRefreshAssign(
        vecs.df.filter(col("vec_id") % 5 =!= 4),
        Seq(vecs.df.filter(col("vec_id") % 5 === 4)), nCentroids = 8)),
      // anchor-free overlap join at 100× (2M time-tiled intervals): W =
      // the interval length, fan-out ≤ 2 bins/row; constant density ⇒
      // per-row pair fan-out must match sf0.1's (~0.93)
      "interval_join" -> (_ => graft.operators.IntervalJoin
        .overlapPairs(ivs.df, "event_id", "s", "e", binWidth = 120L)),
      // mergeable-sketch store build at 100× (10M events → ~15k day-grain
      // sketches): ONE partial/final ObjectHashAggregate, exchange
      // carries sketch bytes — linear by measurement; output rows =
      // store groups, ~0.15% of input. The KLL, theta and heavy-hitters
      // halves run at the SAME synthesis: shape-identical by assertion,
      // these rows measure it
      "sketch_build" -> (_ => graft.operators.SketchStore.buildSketches(
        sketchEv.df, Seq("event_date", "event_type"), "user_id")),
      "sketch_build_kll" -> (_ => graft.operators.SketchStore
        .buildQuantileSketches(sketchEv.df, Seq("event_date", "event_type"), "value")),
      "sketch_build_theta" -> (_ => graft.operators.SketchStore
        .buildThetaSketches(sketchEv.df, Seq("event_date", "event_type"), "user_id")),
      "sketch_build_freq" -> (_ => graft.operators.SketchStore.buildFreqSketches(
        sketchEv.df.withColumn("uid", col("user_id").cast("string")),
        Seq("event_date", "event_type"), "uid")),
      // the per-micro-batch decontamination gate (x_stream_decontam's
      // inner loop) at 100×: the frozen eval index is STAGED outside the
      // timing, so the row measures exactly what one ingested batch pays
      // — index read + banded cross-probe + exact verify. Compare against
      // contamination_minhash (same halves, index built inline): the
      // delta is the amortizable index-build cost.
      "decontam_gate" -> (_ => Dedup.crossDupAgainstIndex(corpusA,
        spark.read.parquet(s"$gateDir/sh"), spark.read.parquet(s"$gateDir/bands"),
        k = 3, threshold = 0.8, numHashes = 32, bands = 8)),
      "minhash_pairs" -> (_ => minhashPairs()),
      // triangle census over the bounded-cluster similarity graph: each
      // source doc's K10 yields a CONSTANT 120 triangles, so the
      // per-vertex output stays exactly 1 row and the wedge fan-out the
      // orientation bounds is the quantity under test
      "triangles" -> (_ => graft.operators.GraphRank.triangleCounts(stagedPairs())),
      // the connected-components DECISION row at 100×: Hash-Min
      // (O(diameter) rounds) vs large-star/small-star (O(log n)) over the
      // SAME staged pair table. SCALING.md records the winner; the
      // post-run audit asserts identical labels.
      "cluster_hashmin" -> (_ => {
        ccHashMin = Dedup.clusters(stagedPairs().persist()); ccHashMin }),
      "cluster_star" -> (_ => {
        ccStar = Dedup.clustersStar(stagedPairs().persist()); ccStar }),
      // incremental crawl dedup at 100×: the digest index absorbs the
      // 10-member verbatim families, so survivors stay ~batch-sized
      "incremental_exact" -> (_ => Dedup.incrementalExact(docs.df)),
      // image aHash pairing at 100×: maxHamming drops 6 → 2 — the 32-bit
      // sketch's pigeonhole blocks are ~4.6 bits at radius 6, far too
      // coarse for 100k images (bucket depth ~4k ⇒ quadratic
      // candidates); radius 2 gives ~10.7-bit blocks, the documented
      // corpus-scale knob rule (the shape is unchanged)
      "phash_pairs" -> (_ => Dedup.hammingPairs32(
        graft.operators.Multimodal.imageAHash(spark, docs.df).toDF(),
        idCol = "doc_id", hashCol = "ahash32", maxHamming = 2)),
      // the 64-bit sketch at the SAME corpus, at the declared query's
      // radius 6 (~9-bit block keys): the output should be ≈ the true
      // duplicate mass (45 pairs per 10-member verbatim family ⇒ ~0.9
      // pairs/doc) — the documented corpus-scale remedy, measured
      "phash_pairs64" -> (_ => Dedup.hammingPairs64(
        graft.operators.Multimodal.imageAHash64(spark, docs.df).toDF(),
        idCol = "doc_id", hashCol = "ahash64", maxHamming = 6)),
      // incremental cluster maintenance (x_dedup_incr_cluster's loop) at
      // 100×: three crawl batches from the staged src, each paying one
      // band-index probe of strictly-earlier batches + within-batch
      // MinHash + bounded-frontier CC; output = the final label
      // generation. Each rep drains under a fresh checkpoint, so every
      // rep runs the full loop.
      "incr_cluster" -> (_ => StreamOps.incrClusterStream(spark, incrRun)),
      // small-file compaction at 100× BYTE volume (480 landed fragments
      // of the 10M-event frame, re-fragmented per rep inside t_synth):
      // the op must cost O(small-file bytes + listing), never O(logical
      // table) — the stats row carries the file accounting
      "maint_compact" -> (_ => {
        val st = Maintenance.compactDir(spark, s"$maintDir/landing",
          targetBytes = 128L << 20, minFileBytes = 8L << 20)
        require(st.filesRewritten == 480 && st.filesWritten >= 1,
          s"maint_compact expected all 480 fragments selected: $st")
        statsRow("files_before" -> st.filesBefore,
          "files_rewritten" -> st.filesRewritten,
          "files_written" -> st.filesWritten,
          "bytes_rewritten" -> st.bytesRewritten)
      }),
      // last-mile shard export at 100× (500k docs, ~50M tokens): the
      // packSequences layout at a 1M-token shard budget (~50 shards),
      // payload joined and landed one-file-per-shard, manifest
      // aggregated from the landed files; rows = shard count
      "export_shards" -> (rep => graft.operators.Packing.exportShards(
        docs.df.select(col("doc_id"), col("text")),
        shardTokens = 1 << 20, outDir = root("export", rep))),
      // snapshot-isolated compaction at maint_compact's byte volume: the
      // frame committed as 480 fragments into a fresh generational root
      // (t_synth), then compactGen packs it as a NEW commit — the delta
      // vs maint_compact is the snapshot-isolation overhead (~zero)
      "maint_compact_gen" -> (rep => {
        val (g, st) = Maintenance.compactGen(spark, root("cgen", rep),
          targetBytes = 128L << 20, minFileBytes = 8L << 20)
        require(g == 2 && st.filesRewritten == 480,
          s"maint_compact_gen expected 480 fragments packed: ($g, $st)")
        statsRow("files_before" -> st.filesBefore,
          "files_rewritten" -> st.filesRewritten,
          "files_written" -> st.filesWritten,
          "bytes_rewritten" -> st.bytesRewritten)
      }),
      // schema evolution at 100×: three day-grain state commits where
      // commit 2 renames total -> amount and adds a column, then a
      // reconciled time-travel read of the PRE-evolution snapshot. The
      // evolution machinery is manifest-resolved (KB-sized,
      // driver-side): the band must match maint_gen's commit-dominated
      // cost
      "schema_evolve" -> (rep => {
        val r = root("sev", rep)
        val state = dayState()
        Maintenance.commit(spark, r, state)
        val evolved = state.withColumnRenamed("total", "amount")
          .withColumn("src", lit("agg"))
        Maintenance.commit(spark, r, evolved, renames = Map("amount" -> "total"))
        Maintenance.commit(spark, r, evolved)
        val g1 = Maintenance.readGen(spark, r, 1)
        require(g1.columns.toSeq ==
          Seq("event_date", "event_type", "n", "amount", "src"),
          s"reconciled pre-evolution columns wrong: ${g1.columns.toSeq}")
        g1
      }),
      // write-audit-publish at 100×: stage the day-grain state (the
      // write), audit it from the landed bytes (one scan), publish (one
      // rename + manifest append) — publish must stay O(metadata), so
      // the band is ~one maint_gen commit + a read, NOT three commits
      "maint_wap" -> (rep => {
        val r = root("wap", rep)
        val st = Maintenance.stageCommit(spark, r, dayState())
        val bad = Maintenance.readStage(spark, r, st).filter(col("n") <= 0).count()
        require(bad == 0, s"audit found $bad violations in staged state")
        Maintenance.readGen(spark, r, Maintenance.publish(spark, r, st))
      }),
      // footer-stats harvest at 100×: 400 files, two columns — reads
      // O(files) KB-sized FOOTERS and zero data pages, so its band must
      // be file-count-shaped, never data-shaped
      "stats_harvest" -> (rep => {
        val out = graft.operators.TableStats.harvestDir(spark,
          f"${root("sh", rep)}/gen_${1}%08d", Seq("event_id", "value"))
          .toDF().persist()
        val n = out.count()
        require(n == 800L, s"expected 400 files x 2 columns, got $n")
        out
      }),
      // data skipping at 100×: a 1%-selective range over the 400-file
      // range-clustered table must plan a ≤5% file scan — the op is the
      // PRUNED read, so its band is O(selected bytes)
      "stats_skip" -> (rep => {
        val (lo, hi) = (42L * 1000000000L, 42L * 1000000000L + 999999999L)
        val pr = Maintenance.prunedReadCurrent(spark, root("ss", rep),
          "event_id", lo, hi)
        require(pr.filesRead > 0 && pr.filesRead * 20 <= pr.filesTotal,
          s"1% range must prune to a <=5% file subset: $pr")
        pr.df.filter(col("event_id").between(lo, hi))
      }),
      // copy-on-write merge at 100× against the 10M-row table: the probe
      // is the join-free segment index over the source; the rewrite only
      // the intersecting file(s). Band = O(touched bytes + probe), NOT
      // O(table); the stats row makes a prune regression visible
      "cow_merge" -> (rep => {
        val st = Maintenance.merge(spark, root("cm", rep), cowSource.df, "event_id")
        require(st.filesRewritten * 10 <= st.filesTotal && st.filesReferenced > 0,
          s"COW merge must rewrite a <=10% file subset: $st")
        statsRow("files_total" -> st.filesTotal,
          "files_rewritten" -> st.filesRewritten,
          "files_referenced" -> st.filesReferenced,
          "rows_written" -> st.rowsWritten)
      }),
      // copy-on-write DELETE at 100× (the right-to-be-forgotten job):
      // probe + rewrite of only the band's file(s) + file-granular commit
      "cow_delete" -> (rep => {
        val st = Maintenance.delete(spark, root("cd", rep), cowDoomed.df, "event_id")
        require(st.filesRewritten * 10 <= st.filesTotal &&
          st.filesReferenced > 0 && st.rowsDeleted > 0,
          s"COW delete must purge a <=10% file subset: $st")
        statsRow("files_total" -> st.filesTotal,
          "files_rewritten" -> st.filesRewritten,
          "files_referenced" -> st.filesReferenced,
          "rows_deleted" -> st.rowsDeleted)
      }),
      // generational lifecycle at 100×: three day-grain state commits,
      // an incident rollback and a keep-2 vacuum — the COMMITS carry the
      // cost; rollback and vacuum must stay metadata-only
      "maint_gen" -> (rep => {
        val r = root("table", rep)
        val state = dayState()
        val g1 = Maintenance.commit(spark, r, state.filter(col("event_type") =!= "purchase"))
        Maintenance.commit(spark, r, state)
        Maintenance.commit(spark, r, state)
        Maintenance.rollback(spark, r, toGen = g1)
        val reclaimed = Maintenance.vacuum(spark, r, keepLast = 2)
        require(reclaimed == Seq(2),
          s"keep-2 vacuum with gen 4 -> gen 1 pointer must reclaim " +
            s"exactly gen 2, got $reclaimed")
        Maintenance.readCurrent(spark, r)
      }))
    // op-specific inputs, restored inside t_synth
    def pin(cs: Corpus*): Int => Unit = _ => cs.foreach(_.pin())
    // input manufacture for the stats/merge rows: restore the keyed
    // frame, then land it range-clustered into the rep's fresh root (the
    // commit IS the input — its cost must not pollute the op band);
    // stats_harvest commits WITHOUT stats (the op harvests)
    def landKeyed(tag: String, withStats: Boolean, also: Corpus*): Int => Unit = rep => {
      keyed.pin()
      val df = keyed.df.repartitionByRange(400, col("event_id"))
      if (withStats)
        Maintenance.commitWithStats(spark, root(tag, rep), df, statsColumns = Seq("event_id"))
      else Maintenance.commit(spark, root(tag, rep), df)
      also.foreach(_.pin())
    }
    val extras: Map[String, Int => Unit] = Map(
      "interval_join" -> pin(ivs),
      "sketch_build" -> pin(sketchEv),
      "sketch_build_kll" -> pin(sketchEv),
      "sketch_build_theta" -> pin(sketchEv),
      "sketch_build_freq" -> pin(sketchEv),
      "decontam_gate" -> (_ => stageGate()),
      "triangles" -> (_ => stagePairs()),
      "cluster_hashmin" -> (_ => stagePairs()),
      "cluster_star" -> (_ => stagePairs()),
      "incr_cluster" -> (_ => stageIncr()),
      // land the 10M-event frame as 480 small fragments (mode=overwrite
      // resets the previous rep's compacted files)
      "maint_compact" -> (_ => {
        sketchEv.pin()
        sketchEv.df.repartition(480).write.mode("overwrite").parquet(s"$maintDir/landing")
      }),
      // commit the frame as 480 fragments into a FRESH generational root
      // (compactGen on an already-compacted root is a fixpoint no-op)
      "maint_compact_gen" -> (rep => {
        sketchEv.pin()
        Maintenance.commit(spark, root("cgen", rep), sketchEv.df.repartition(480))
      }),
      "schema_evolve" -> pin(sketchEv),
      "maint_wap" -> pin(sketchEv),
      "maint_gen" -> pin(sketchEv),
      "stats_harvest" -> landKeyed("sh", withStats = false),
      "stats_skip" -> landKeyed("ss", withStats = true),
      "cow_merge" -> landKeyed("cm", withStats = true, cowSource),
      "cow_delete" -> landKeyed("cd", withStats = true, cowDoomed))
    val results = runOps(spark, ops, only, resident = Seq(docs, vecs),
      reps = 3, extras = extras)
    // Skew audit for the wedge join (the census' only quadratic-risk
    // site): per-vertex wedge work is C(outdeg, 2) under the (deg, id)
    // orientation, so the MAX orientation out-degree bounds the worst
    // task's fan-out — a hub regression is visible even when wall-clock
    // noise hides it. Present only when the pair table was staged.
    val triAudit = if (!stagePairs.ran) Nil else {
      val pairs = stagedPairs()
      val deg = pairs.select(explode(array(col("d1"), col("d2"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val audit = pairs
        .join(deg.select(col("v").as("d1"), col("deg").as("dega")), "d1")
        .join(deg.select(col("v").as("d2"), col("deg").as("degb")), "d2")
        .select(when(struct(col("dega"), col("d1")) <
            struct(col("degb"), col("d2")), col("d1"))
          .otherwise(col("d2")).as("u"))
        .groupBy("u").agg(count(lit(1)).as("outdeg"))
        .agg(max("outdeg").as("mx"),
          sum(expr("(outdeg * (outdeg - 1)) div 2")).as("wedges"))
        .head()
      Seq("tri_max_outdeg" -> audit.getLong(0), "tri_wedges" -> audit.getLong(1))
    }
    // CC equality audit: both fixpoints are already materialized, so one
    // order-insensitive checksum per side compares the full label sets
    // without re-running any rounds
    val ccAudit = if (ccHashMin == null || ccStar == null) Nil
      else Seq("cc_labels_equal" ->
        (labelFingerprint(ccHashMin) == labelFingerprint(ccStar)))
    val denom: Map[String, Corpus] = Map(
      "embed_pairs" -> vecs, "embed_cluster" -> vecs,
      "contamination_embed" -> vecs, "ivf_refresh" -> vecs,
      "interval_join" -> ivs, "sketch_build" -> sketchEv,
      "sketch_build_kll" -> sketchEv, "sketch_build_theta" -> sketchEv,
      "sketch_build_freq" -> sketchEv)
    val pairOps = Set("ppjoin", "ppjoin_cand", "minhash_cand",
      "embed_pairs", "ngram_overlap",
      "contamination_minhash", "contamination_embed", "ivf_refresh",
      "interval_join", "decontam_gate",
      "minhash_pairs", "triangles", "phash_pairs", "phash_pairs64",
      "incr_cluster")
    batchRecord("100x", sfDir, results,
      Seq("n_docs" -> docs.rows, "n_vecs" -> vecs.rows, "partitions" -> parts),
      reps = 3,
      fanout = Some(Fanout(n => denom.getOrElse(n, docs).rows, pairOps)),
      audits = triAudit ++ ccAudit)
  }

  /** The 1000× spot-check: 5M synthetic docs, ONE run of the heaviest
    * pairing, interval and sketch shapes, shape-only gates — confirms the
    * fan-out caps and partition scaling hold one more decade out before
    * anyone trusts the 100 TB story. Same bounded-cluster synthesis as
    * the 100× block ([[docsBounded]] / [[vecsBounded]] with 1000
    * replicas: residue < 5 in each 500-half stays verbatim → 10-member
    * families, constant C(10,2) pair mass per source row), so qualifying
    * pairs per input row must FALL another 10× relative to the 100×
    * block; intervals and sketch events keep the time tiling, so their
    * per-row fan-out stays at the sf0.1 value while output grows exactly
    * linearly. Timings are recorded but are NOT the contract (one run,
    * spill-heavy at this volume — the corpora persist
    * MEMORY_AND_DISK_SER and shuffles spill); gates are 0 cartesian /
    * 0 BNLJ / fan-out cap / completion without OOM. Each op restores
    * ONLY its own corpus. Run with SPARK_DRIVER_MEM=48g. */
  private def run1000x(spark: SparkSession, sfDir: String, parts: Int,
      only: Option[Set[String]]): String = {
    val events = graft.Tables(spark, sfDir, "events")
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    val docs = corpus(parts, ser)(docsBounded(graft.Tables(spark, sfDir, "documents"), 1000))
    val vecs = corpus(parts, ser)(vecsBounded(graft.Tables(spark, sfDir, "embeddings"), 1000))
    val ivs = corpus(parts, ser)(intervals(events, 1000))
    val sketchEv = corpus(parts, ser)(sketchEvents(events, 1000).drop("value"))
    // sign-LSH band keys follow the documented bucket-occupancy rule
    // (~log2(corpus) bits): 2M vectors → 20-bit keys, 3 bands — the knob
    // the operator's scaladoc prescribes, NOT a new shape; mean bucket
    // depth stays ~2 so candidate mass stays linear
    def embedPairs() = SimilaritySearch.cosinePairsLsh(
      vecs.df, threshold = 0.4, nBits = 60, rowsPerBand = 20)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "ppjoin" -> (_ => Dedup.nearDupJaccard(docs.df, k = 3, threshold = 0.8)),
      "minhash_pairs" -> (_ => Dedup.nearDupMinHash(docs.df, k = 3,
        numHashes = 32, bands = 8, threshold = 0.8).select("d1", "d2")),
      "embed_pairs" -> (_ => embedPairs()),
      "embed_cluster" -> (_ => Dedup.clusters(embedPairs().persist())),
      "interval_join" -> (_ => graft.operators.IntervalJoin
        .overlapPairs(ivs.df, "event_id", "s", "e", binWidth = 120L)),
      "sketch_build" -> (_ => graft.operators.SketchStore.buildSketches(
        sketchEv.df, Seq("event_date", "event_type"), "user_id")))
    val input = Map("ppjoin" -> docs, "minhash_pairs" -> docs,
      "embed_pairs" -> vecs, "embed_cluster" -> vecs,
      "interval_join" -> ivs, "sketch_build" -> sketchEv)
    val results = runOps(spark, ops, only,
      extras = input.map { case (n, c) => n -> ((_: Int) => c.pin()) })
    // a corpus no selected op read is reported as null, never synthesized
    def rows(c: Corpus): Any = if (c.forced) c.rows else null
    batchRecord("1000x", sfDir, results,
      Seq("n_docs" -> rows(docs), "n_vecs" -> rows(vecs), "partitions" -> parts),
      reps = 1, fanout = Some(Fanout(input(_).rows, _ => true)))
  }

  /** STATEFUL-STREAMING rehearsal at 10× events: the batch blocks above
    * bound dedup/ANN shuffles; this block bounds STATE-STORE growth for
    * the stateful shapes (`x_stream_join`, `x_stream_state`,
    * `x_stream_upsert`, …) when the stream is 10× longer than the
    * declared query's input and arrives as many watermark-advancing
    * microbatches — the axis on which an unbounded stream actually kills
    * a job.
    *
    * Input: 1M events (10 replicas, disjoint event_id/user_id stripes —
    * 15k state keys, same per-user event density as the base table),
    * staged through [[graft.streaming.StreamOps.StagedStream]] as
    * `nStripes` time-range files with ascending pinned mtimes, so
    * `maxFilesPerTrigger=1` yields a deterministic watermark TRAJECTORY.
    *
    * Asserted contracts, from the queries' own `StreamingQueryProgress`
    * state metrics:
    *   - stream-stream join: the event-time bound EVICTS — rows removed
    *     from state > 0, and PEAK state rows ≪ total buffered input
    *     (both sides would otherwise hold 2M rows); final state holds
    *     only the last watermark horizon.
    *   - flatMapGroupsWithState totals: state rows == distinct users
    *     (key-cardinality bound, NOT event-count growth).
    *   - foreachBatch CDC upsert: merged state table rows == distinct
    *     users (same key bound; the state lives in the table, so the
    *     metric is its row count).
    */
  private def runStream10x(spark: SparkSession, sfDir: String, parts: Int,
      only: Option[Set[String]]): String = {
    import org.apache.spark.sql.streaming.StreamingQuery
    val nStripes = 10
    val ev10 = replicate(graft.Tables(spark, sfDir, "events"), 10)
      .select(
        (col("event_id") + col("replica") * lit(1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("replica") * lit(100000L)).as("user_id"),
        col("event_type"), col("value"))
      .persist()
    val nRows = ev10.count()
    val nUsers = ev10.select("user_id").distinct().count()
    val bounds = ev10.agg(min(col("ts")), max(col("ts"))).head()
    val (tMin, tMax) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val run = StreamOps.StagedStream.lasting("graft_stream10x")
    run.stage((0 until nStripes).map { i =>
      val lo = new java.sql.Timestamp(tMin + (tMax - tMin) * i / nStripes)
      val hi = new java.sql.Timestamp(tMin + (tMax - tMin) * (i + 1) / nStripes)
      ev10.filter(col("ts") >= lit(lo) &&
        (if (i == nStripes - 1) lit(true) else col("ts") < lit(hi)))
    })
    val schema = ev10.schema
    def stripedStream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(run.src)

    /** Progress-derived state facts for one run to a noop sink.
      * `rocksBytes` is the peak on-store footprint reported by the
      * RocksDB provider's custom metrics (SST files + memtable/block
      * memory) — 0 under the default HDFS-backed provider, so a
      * positive value doubles as proof the disk-backed store actually
      * carried the state. */
    case class StatefulRun(secs: Double, peak: Long, fin: Long,
        removed: Long, batches: Int, rocksBytes: Long)
    def runStateful(name: String, out: DataFrame): StatefulRun = {
      val t = System.nanoTime()
      val q: StreamingQuery = out.writeStream.format("noop")
        .option("checkpointLocation", run.path(s"ckpt_$name"))
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val secs = (System.nanoTime() - t) / 1e9
      val progresses = q.recentProgress.toSeq
      val states = progresses.flatMap(_.stateOperators.toSeq)
      val peak = if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
      val fin = progresses.reverse.find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      val removed = states.map(_.numRowsRemoved).sum
      val rocksBytes =
        if (states.isEmpty) 0L
        else states.map { s =>
          import scala.jdk.CollectionConverters._
          s.customMetrics.asScala.collect {
            case (k, v) if k.startsWith("rocksdb") &&
                (k.contains("SstFileSize") || k.contains("MemoryUsage")) =>
              v.longValue()
          }.sum
        }.max
      StatefulRun(secs, peak, fin, removed,
        progresses.count(_.numInputRows > 0), rocksBytes)
    }

    // scope shuffle partitions like runToMemory: state stores
    // materialize per shuffle partition per stateful operator
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    // 1) stream-stream inner join, 10-min event-time bound, 1h watermark
    val a = stripedStream().select(
      col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts"), col("event_type").as("a_type"))
      .withWatermark("a_ts", "1 hour")
    val b = stripedStream().select(
      col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val j = runStateful("join", a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES") &&
        col("a_id") < col("b_id")))

    // 2) flatMapGroupsWithState running totals (NoTimeout: state is
    // intentionally key-bounded, never event-bounded)
    val st = runStateful("state", StreamOps.runningUserTotals(spark, stripedStream()))

    // 2b) the transformWithState RocksDB path at 10×, scoped exactly as
    // the declared queries scope it (StreamOps.streamHighWaterRun):
    //   - high-water marks: one ValueState per user on the DISK-backed
    //     store — state must land at exactly |users| rows, and the
    //     provider's own SST/memory metrics must be non-zero (proof the
    //     rows live in RocksDB, not the default HDFS-backed heap store);
    //   - timer sessions: ListState + event-time timers — closed
    //     sessions are EMITTED AND DELETED as the watermark passes
    //     them, so final state rows must drop below the mid-stream
    //     peak (the eviction proof the ValueState op cannot give,
    //     since a high-water mark is never evicted by design).
    val (h, ts) = graft.Sessions.withConf(spark, StreamOps.rocksDbStateStore) {
      (runStateful("hwm", StreamOps.highWaterMarks(spark, stripedStream())),
        runStateful("timer_sessions", StreamOps.timerSessions(spark, stripedStream())))
    }

    // 3) foreachBatch CDC upsert: stripe 0 seeds the partition-pruned
    // state table, every later stripe merges into it as one micro-batch;
    // "state" = the table itself
    import graft.operators.ChangeCapture
    val keys = Seq("user_id"); val versions = Seq("ts", "event_id")
    val payload = Seq("event_type", "value")
    val statePath = run.path("cdc_state")
    def cdc(df: DataFrame) = df.select(col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("event_type"), col("value"))
    ChangeCapture.writeCdcState(cdc(spark.read.parquet(s"${run.src}/batch_0.parquet")),
      statePath, keys, versions, "op", payload)
    val (_, uSec) = timed(run.drain(spark) { (batch, id) =>
      if (id > 0) ChangeCapture.mergeIntoState(
        batch.sparkSession, statePath, cdc(batch), keys, versions, "op", payload)
    })
    val uRows = ChangeCapture.readCurrentState(spark, statePath, "op").count()

    // 4) foreachBatch sketch-store maintenance (x_stream_sketch's shape
    // at 10×): each stripe's per-(day, type) HLL partials are
    // union-merged into the persisted store by generation swap. "State"
    // here is the store itself — the guard proves it is bounded by
    // |groups| (rows) and KBs/group (bytes), never by |events|: the HLL
    // union monoid absorbs every stripe into fixed-size registers, which
    // is the store's 100 TB contract.
    import graft.operators.SketchStore
    var sGen = 0
    val (sketchPath, sSec) = timed(StreamOps.foldGenerations(spark, run)(
        batch => {
          sGen += 1
          SketchStore.buildSketches(
            batch.select(to_date(col("ts")).as("event_date"),
              col("event_type"), col("user_id")),
            Seq("event_date", "event_type"), "user_id")
        },
        _.groupBy("event_date", "event_type").agg(
          hll_union_agg(col(SketchStore.SketchCol)).as(SketchStore.SketchCol),
          sum(SketchStore.RowCountCol).as(SketchStore.RowCountCol))))
    val sketchStore = spark.read.parquet(sketchPath)
    val sRows = sketchStore.count()
    val sEvents = sketchStore.agg(sum(SketchStore.RowCountCol)).head().getLong(0)
    val nGroups = ev10.select(to_date(col("ts")).as("d"), col("event_type"))
      .distinct().count()
    val sBytes = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(sketchPath))
        .iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }

    // 5) incremental dedup-cluster maintenance at 10× docs: the crawl
    // corpus arrives as 5 batches through StreamOps.incrClusterMaintain
    // (per-batch band-index probe + bounded-frontier CC). The guard
    // proves the maintained label state IS the batch CC result (the
    // checksum-equality audit the 100× CC rows use) and that state rows
    // stay on the docs-in-pairs roster — never the pair count, never the
    // batch history.
    val docs10 = docs10x(graft.Tables(spark, sfDir, "documents"))
      .select(col("doc_id"), col("text")).persist()
    val nDocs10 = docs10.count()
    val (incrLabels, cSec) =
      timed(StreamOps.incrClusterMaintain(spark, docs10, nBatches = 5))
    val fpIncr = labelFingerprint(incrLabels)
    val incrEqual =
      fpIncr == labelFingerprint(Dedup.clusters(Dedup.nearDupMinHash(docs10)))
    val incrRows = fpIncr(2)
    spark.catalog.clearCache()

    // 6) streaming COW merge at 10× (x_stream_cow_merge's shape): the
    // 1M-row keyed table committed range-clustered into ~100 files with
    // an event_id sidecar, then 10 id-LOCALIZED change batches (one
    // replica band each, disjoint — merge order immaterial), staged with
    // pinned mtimes, foreachBatch-merge sequentially. This is
    // monotonic-ingest CDC, the shape where the table's cluster axis and
    // the change stream agree; the guard proves per-batch work stays
    // file-LOCAL (every batch rewrites a ≤20% file minority and
    // references the rest) and the table ends at generation 11 with
    // history intact — per-batch cost O(batch + touched files), never
    // O(table).
    val cowRoot = run.path("cow_table")
    val keyed10 = ev10.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    Maintenance.commitWithStats(spark, cowRoot,
      keyed10.repartitionByRange(100, col("event_id")),
      statsColumns = Seq("event_id"))
    val cowRun = new StreamOps.StagedStream(run.path("cow"))
    cowRun.stage((0 until nStripes).map { r =>
      keyed10.filter(
          col("event_id") >= lit(r * 1000000000L) &&
          col("event_id") < lit((r + 1) * 1000000000L) &&
          col("event_id") % 3 === 0)
        .withColumn("event_type", lit(s"u$r"))
        .withColumn("value", col("value") * 2)
    })
    val cowStats = scala.collection.mutable.ArrayBuffer[Maintenance.MergeStats]()
    val (_, cowSec) = timed(cowRun.drain(spark) { (batch, _) =>
      cowStats += Maintenance.merge(batch.sparkSession, cowRoot, batch, "event_id")
    })
    val cowMs = cowStats.toSeq
    val cowGen = Maintenance.currentGen(spark, cowRoot)
    val cowMaxRewrite = if (cowMs.isEmpty) -1 else cowMs.map(_.filesRewritten).max
    val cowMinRef = if (cowMs.isEmpty) -1 else cowMs.map(_.filesReferenced).min

    // contracts
    val checks = Seq(
      ("cow_merge_all_batches_landed",
        cowMs.size == nStripes && cowGen == nStripes + 1),
      ("cow_merge_file_local", cowMinRef > 0 &&
        cowMs.forall(s => s.filesRewritten * 5 <= s.filesTotal)),
      ("incr_cluster_equals_batch", incrEqual),
      ("incr_cluster_label_bounded", incrRows > 0L && incrRows <= nDocs10),
      ("join_evicts", j.removed > 0L),
      ("join_state_bounded", j.peak < nRows / 2), // vs 2M rows buffered unwatermarked
      ("state_key_bounded", st.fin == nUsers && st.peak <= nUsers),
      ("hwm_key_bounded", h.fin == nUsers && h.peak <= nUsers),
      ("hwm_on_rocksdb", h.rocksBytes > 0L),
      ("timer_sessions_evict", ts.removed > 0L || ts.fin < ts.peak),
      ("upsert_key_bounded", uRows <= nUsers),
      // store rows = exactly the (day, type) group count (never
      // |events|), the audit row-count must cover every event exactly
      // once (exactly-once merge), and the on-disk footprint must stay
      // KBs/group (HLL registers, not raw values, on the store)
      ("sketch_store_group_bounded",
        sRows == nGroups && sEvents == nRows && sBytes < nGroups * 20000L))
    val ops = obj(Seq(
      "stream_join" -> obj(Seq("sec" -> r2(j.secs), "batches" -> j.batches,
        "state_peak" -> j.peak, "state_final" -> j.fin, "state_removed" -> j.removed)),
      "stream_state" -> obj(Seq("sec" -> r2(st.secs), "state_peak" -> st.peak,
        "state_final" -> st.fin, "n_keys" -> nUsers)),
      "stream_hwm" -> obj(Seq("sec" -> r2(h.secs), "state_peak" -> h.peak,
        "state_final" -> h.fin, "rocksdb_bytes" -> h.rocksBytes, "n_keys" -> nUsers)),
      "stream_timer_sessions" -> obj(Seq("sec" -> r2(ts.secs),
        "state_peak" -> ts.peak, "state_final" -> ts.fin,
        "state_removed" -> ts.removed, "rocksdb_bytes" -> ts.rocksBytes)),
      "stream_upsert" -> obj(Seq("sec" -> r2(uSec), "state_rows" -> uRows,
        "n_keys" -> nUsers)),
      "stream_sketch" -> obj(Seq("sec" -> r2(sSec), "state_rows" -> sRows,
        "n_groups" -> nGroups, "n_events_merged" -> sEvents,
        "state_bytes" -> sBytes, "batches" -> sGen)),
      "stream_incr_cluster" -> obj(Seq("sec" -> r2(cSec), "batches" -> 5,
        "label_rows" -> incrRows, "n_docs" -> nDocs10, "cc_equal" -> incrEqual)),
      "stream_cow_merge" -> obj(Seq("sec" -> r2(cowSec), "batches" -> nStripes,
        "gens" -> cowGen,
        "files_total_final" -> (if (cowMs.isEmpty) -1 else cowMs.last.filesTotal),
        "max_files_rewritten" -> cowMaxRewrite,
        "min_files_referenced" -> cowMinRef))))
    record("stream10x", sfDir, Seq("n_events" -> nRows, "n_users" -> nUsers,
      "stripes" -> nStripes, "partitions" -> 32, "ops" -> ops,
      "state_guard" -> verdict("stream10x", checks.filterNot(_._2).map(_._1))))
  }

  /** Manual salting vs AQE skew-split, decided by MEASUREMENT (the
    * SCALING.md decision record): a pathologically skewed sort-merge
    * join — 10× lineitem (6M rows) on `l_returnflag`, 3 distinct keys,
    * so an unsalted shuffle join puts ~2M rows in each of exactly 3
    * reduce tasks while the rest of the cluster idles. Broadcast is
    * disabled to force the SMJ shape (at 100 TB the dim that triggers
    * real skew is too big to broadcast; here it must be simulated).
    *
    * Three plans over identical inputs, identical results:
    *   1. `plain`      — AQE skew-split off: the straggler baseline;
    *   2. `aqe_skew`   — AQE `OptimizeSkewedJoin` on, with
    *     `skewedPartitionThresholdInBytes`/`advisoryPartitionSizeInBytes`
    *     lowered to engage at rehearsal volume (defaults are 256M/64M —
    *     cluster-sized; a 2M-row key here is ~60 MB and would not trip
    *     them);
    *   3. `salted`     — [[graft.operators.SkewJoin.saltedJoin]],
    *     saltFactor 32.
    */
  private def runSkew10x(spark: SparkSession, sfDir: String, parts: Int,
      only: Option[Set[String]]): String = {
    val li10 = replicate(graft.Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")), 10)
      .drop("replica")
      .persist()
    val n = li10.count()
    val flags = li10.select(col("l_returnflag")).distinct()
      .withColumn("flag_tag", concat(lit("tag_"), col("l_returnflag")))
      .persist()
    flags.count()
    def agg(j: DataFrame): DataFrame =
      j.groupBy("l_returnflag", "flag_tag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
    // every op joins by shuffle: the tiny flags side would broadcast
    def timeIt(confs: (String, String)*)(f: () => DataFrame): Double =
      graft.Sessions.withConf(spark,
          ("spark.sql.autoBroadcastJoinThreshold" -> "-1") +: confs: _*) {
        val t = System.nanoTime()
        f().write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t) / 1e9
      }
    val plain = timeIt(
      "spark.sql.adaptive.skewJoin.enabled" -> "false")(
      () => agg(li10.join(flags, "l_returnflag")))
    val aqeSkew = timeIt(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")(
      () => agg(li10.join(flags, "l_returnflag")))
    val salted = timeIt(
      "spark.sql.adaptive.skewJoin.enabled" -> "false")(
      () => agg(graft.operators.SkewJoin.saltedJoin(li10, flags,
        "l_returnflag", saltFactor = 32)))
    val timings = Seq("plain" -> plain, "aqe_skew" -> aqeSkew, "salted" -> salted)
    record("skew10x", sfDir, Seq("n_rows" -> n, "partitions" -> parts,
      "ops" -> obj(timings.map { case (k, v) => k -> r2(v) }),
      "winner" -> str(timings.minBy(_._2)._1)))
  }

  /** Mode → (default partition count, block). */
  private val blocks: Seq[(String, (Int, Block))] = Seq(
    "10x" -> (200, run10x _), "100x" -> (400, run100x _),
    "1000x" -> (1200, run1000x _), "stream10x" -> (200, runStream10x _),
    "skew10x" -> (200, runSkew10x _))

  /** The block entry point: runs `mode`'s block on `spark`, whose
    * shuffle-partition count it sets to `parts`, and returns the block's
    * record line. `only` selects an op subset of a batch block. Neither
    * stops the session nor writes `SCALE_REHEARSAL.json`; hand it a
    * session of its own (`spark.newSession()`) to keep the block's
    * session conf away from other work. */
  private[graft] def runBlock(spark: SparkSession, mode: String,
      sfDir: String, parts: Int, only: Option[Set[String]]): String = {
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    blocks.toMap.apply(mode)._2(spark, sfDir, parts, only)
  }

  /** Merge a block's record into SCALE_REHEARSAL.json under its mode key
    * (`{"10x": {...}, "100x": {...}, ...}`). */
  private def writeBlock(mode: String, line: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val path = java.nio.file.Paths.get("SCALE_REHEARSAL.json")
    val root = (if (!java.nio.file.Files.exists(path)) null
      else mapper.readTree(java.nio.file.Files.readString(path))) match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => mapper.createObjectNode()
    }
    root.set[com.fasterxml.jackson.databind.JsonNode](mode, mapper.readTree(line))
    java.nio.file.Files.write(path,
      (root.toString + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The guard verdicts a record line carries: `FAIL`ed guards and a
    * false CC label-equality audit. */
  private[graft] def violations(line: String): Seq[String] = {
    val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    Seq("plan_guard", "state_guard").filter(k => rec.path(k).asText() == "FAIL") ++
      Seq("cc_labels_equal").filter(k => rec.has(k) && !rec.get(k).asBoolean())
  }

  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_MODE", "10x")
    val defaultParts = blocks.toMap.getOrElse(mode, {
      System.err.println(s"usage: SPARK_GRAFT_REHEARSAL_MODE=" +
        s"<${blocks.map(_._1).mkString("|")}> (got '$mode')")
      sys.exit(2)
    })._1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val parts = sys.env.get("SPARK_GRAFT_REHEARSAL_PARTS").fold(defaultParts)(_.toInt)
    // an op subset prints its line but never rewrites the record: a
    // partial block must not clobber the standing full-run record
    val only = sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.Sessions.localBuilder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val line = runBlock(spark, mode, sfDir, parts, only)
      println(line)
      if (only.isEmpty) writeBlock(mode, line)
      val failed = violations(line)
      require(failed.isEmpty, s"$mode rehearsal guard violated: ${failed.mkString(", ")}")
    } finally spark.stop()
  }
}
