package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal for the dedup / connected-components / contamination
  * family: the cheapest evidence that the 100× story is real before the
  * operators meet a cluster.
  *
  * What it does (SCALING.md records the standing result):
  *   - synthesizes a 10× corpus from the sf0.1 `documents` and
  *     `embeddings` tables — replicas 0..4 keep the text/vector verbatim
  *     (so every source row becomes a 5-member duplicate cluster: the
  *     worst case for pair generation and CC), replicas 5..9 get
  *     perturbed content (distinct mass, keeps selectivity realistic);
  *   - sets `spark.sql.shuffle.partitions` to a cluster-like count
  *     (default 200 — the Spark default a 1000-executor job would start
  *     from) instead of the local 32;
  *   - runs exact dedup, MinHash-LSH, PPJoin near-dup, Hash-Min CC,
  *     large/small-star CC, cross-corpus contamination, and the
  *     embedding LSH→CC composition over the synthetic volume;
  *   - captures EVERY execution the ops fire (iterative CC rounds
  *     included) through `graft.Capture` and fails loudly if any plan
  *     contains a `CartesianProduct` or an undocumented
  *     `BroadcastNestedLoopJoin`;
  *   - prints one JSON line with per-op wall seconds + final-plan node
  *     counts, and writes it to `SCALE_REHEARSAL.json`.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.tools.ScaleRehearsal"` (optional SPARK_GRAFT_REHEARSAL_PARTS to
  * change the partition count).
  */
object ScaleRehearsal {

  /** 10× documents: 5 verbatim replicas (dense duplicate clusters) + 5
    * perturbed ones (distinct mass). doc_id spaces are disjoint by
    * replica stripe. Replication is a GENERATOR (explode of a literal
    * sequence), not a crossJoin — a join-free row multiplier, so the
    * synthetic input adds zero join nodes to any captured plan. */
  private def docs10x(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(col("*"),
        explode(sequence(lit(0L), lit(9L))).as("replica"))
      .select(
        (col("doc_id") + col("replica") * lit(10000000L)).as("doc_id"),
        when(col("replica") < 5, col("text"))
          .otherwise(concat(col("text"), lit(" uniq"), col("replica")))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))

  /** 100× documents with BOUNDED duplicate clusters: replicas whose
    * stripe residue is < 5 (0-4 and 50-54 — five in each contamination
    * half) stay verbatim, so every source doc forms one 10-member
    * near-dup cluster whose pair count C(10,2) is CONSTANT in corpus
    * scale; the other 90 replicas get every odd word suffixed with a
    * replica tag, which breaks every 3-shingle (any 3 consecutive words
    * contain a tagged one) and makes their shingle sets mutually
    * disjoint. Pair fan-out per document must therefore FALL as the
    * corpus grows — the sub-linear property the 100× run asserts.
    * (The 10× synthesis keeps the all-replicas-near-dup worst case; at
    * 100× that shape would measure the data's quadratic duplicate mass,
    * not the operators.) */
  private def docs100x(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(col("*"),
        explode(sequence(lit(0L), lit(99L))).as("replica"))
      .select(
        (col("doc_id") + col("replica") * lit(10000000L)).as("doc_id"),
        when(col("replica") % 50 < 5, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+) (\\S+)"),
            concat(lit("$1u"), col("replica"), lit(" $2"))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))

  /** 100× embeddings, same bounded-cluster principle: stripe residue
    * < 5 keeps the vector verbatim (10-member cosine-1 clusters), the
    * rest become deterministic random directions via iid hash-uniform
    * components (xxhash64 of (vec_id, replica, position) → [-1, 1]).
    * Pairwise cosine of such vectors concentrates at 0 with sd 1/√dim
    * (≈0.125 at dim 64), so essentially no random pair clears an LSH
    * threshold like 0.4 — pair mass stays linear in the corpus.
    * (A sinusoid family sin(phase + c·i) would NOT work here: those
    * vectors span a 2-D subspace and their pairwise cosine is
    * cos(Δphase), putting ~37% of pairs over 0.4 — quadratic blow-up.) */
  private def vecs100x(spark: SparkSession, vecs: DataFrame): DataFrame =
    vecs.select(col("*"),
        explode(sequence(lit(0L), lit(99L))).as("replica"))
      .select(
        (col("vec_id") + col("replica") * lit(10000000L)).as("vec_id"),
        when(col("replica") % 50 < 5, col("embedding"))
          .otherwise(expr(
            "cast(transform(embedding, (x, i) -> " +
              "(pmod(xxhash64(vec_id, replica, i), 2001) - 1000) / 1000.0" +
              ") as array<float>)"))
          .as("embedding"),
        col("label"))

  /** 10× embeddings: verbatim + slightly scaled copies (pure scaling
    * preserves direction, so cosine stays 1 and LSH still pairs the
    * replicas — CC load stays maximal). Cast back to array<float>: the
    * similarity expressions type-check on FloatType. */
  private def vecs10x(spark: SparkSession, vecs: DataFrame): DataFrame =
    vecs.select(col("*"),
        explode(sequence(lit(0L), lit(9L))).as("replica"))
      .select(
        (col("vec_id") + col("replica") * lit(10000000L)).as("vec_id"),
        when(col("replica") < 5, col("embedding"))
          .otherwise(transform(col("embedding"),
            x => x * (lit(1.0) + col("replica").cast("double") / lit(1000d)))
            .cast("array<float>"))
          .as("embedding"),
        col("label"))

  /** Optional comma-separated op subset for local iteration
    * (`SPARK_GRAFT_REHEARSAL_ONLY=ngram_overlap`). Subset runs print
    * their line but do NOT rewrite SCALE_REHEARSAL.json — a partial
    * block must never clobber the standing full-run record. */
  private val onlyOps: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  private def selectOps(
      ops: Seq[(String, () => DataFrame)]): Seq[(String, () => DataFrame)] = {
    // a typo'd SPARK_GRAFT_REHEARSAL_ONLY name would silently select
    // zero ops (and in the 100x block could still pay staging) — fail
    // loudly against THIS block's op list instead
    onlyOps.foreach { names =>
      val known = ops.map(_._1).toSet
      val unknown = names.filterNot(known)
      require(unknown.isEmpty,
        s"unknown SPARK_GRAFT_REHEARSAL_ONLY ops for this block: " +
          s"${unknown.mkString(", ")} (known: ${known.toSeq.sorted.mkString(", ")})")
    }
    onlyOps match {
      case Some(names) => ops.filter(o => names(o._1))
      case None        => ops
    }
  }

  /** Time each op in TWO phases, capture every plan the op phase
    * fired, count guard violations.
    *
    * Phase split (round-13 finding, the `sketch1000x` probe): the
    * one-phase protocol timed synthetic-input manufacture and the
    * operator BUNDLED — the 1000× sketch_build row read 565.7 s of
    * which 442.2 s was re-synthesizing the 100M-event input after the
    * previous op's cache clear. Every rep now first restores the op's
    * inputs (`keepResident` for the block-shared corpora plus the
    * op's `extras` entry for op-specific frames — persist + count,
    * exactly the work the old post-clear hook did untimed or the op
    * paid inline) as `t_synth`, then runs the operator against warm
    * inputs as `sec` — so the committed per-op number is
    * operator-attributable. At 100 TB the input is a table on disk,
    * not a synthesis lineage: `sec` is the number that projects.
    *
    * `reps` > 1 runs an op back-to-back that many times inside the one
    * (warmed) JVM — each rep re-constructs the DataFrame and clears
    * the cache, so per-rep cost includes construction jobs, exactly
    * like a fresh run — and reports the MIN with every rep recorded
    * (`secRuns`). Rationale (round-11, the ppjoin_cand spread fix):
    * across five separate full runs the cand sub-phase spread
    * [25.2, 69.4] s — between-JVM noise (JIT, GC heap layout,
    * co-tenant stalls) landing unevenly, not plan cost; back-to-back
    * in-JVM reps isolate the op and the recorded spread bounds the
    * residual noise. Guard counts accumulate over ALL reps. */
  private def runOps(
      spark: SparkSession,
      ops: Seq[(String, () => DataFrame)],
      keepResident: () => Unit,
      reps: Int = 1,
      extras: Map[String, () => Unit] = Map.empty)
    : Seq[(String, Seq[Double], Seq[Double], Long, Int, Int)] = {
    ops.map { case (name, f) =>
      var rows = -1L
      var cartesian = 0
      var bnlj = 0
      val timed = (1 to math.max(1, reps)).map { rep =>
        // phase 1 — input restoration (t_synth): re-pin and
        // re-materialize what the previous rep's cache clear dropped
        val tS = System.nanoTime()
        keepResident()
        extras.get(name).foreach(_.apply())
        val synthSecs = (System.nanoTime() - tS) / 1e9
        // phase 2 — the operator, inputs warm, in one capture window
        // (restoration above and the row count below are not the op's)
        val (df, cap) = graft.Capture.during(spark) {
          val df = f()
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
      (name, timed.map(_._1), secRuns, rows, cartesian, bnlj)
    }
  }

  /** Merge this run's block into SCALE_REHEARSAL.json under its mode
    * key (`{"10x": {...}, "100x": {...}}`), migrating the legacy flat
    * single-object layout if present. */
  private def writeBlock(mode: String, line: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val path = java.nio.file.Paths.get("SCALE_REHEARSAL.json")
    val root: com.fasterxml.jackson.databind.node.ObjectNode =
      if (java.nio.file.Files.exists(path)) {
        val old = mapper.readTree(java.nio.file.Files.readString(path))
        old match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode
              if o.has("rehearsal") => // legacy flat 10x object
            mapper.createObjectNode().set[
              com.fasterxml.jackson.databind.node.ObjectNode]("10x", o)
          case o: com.fasterxml.jackson.databind.node.ObjectNode => o
          case _ => mapper.createObjectNode()
        }
      } else mapper.createObjectNode()
    root.set[com.fasterxml.jackson.databind.JsonNode](
      mode, mapper.readTree(line))
    java.nio.file.Files.write(path,
      (root.toString + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_MODE", "10x")
    val parts = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_PARTS",
      mode match {
        case "1000x" => "1200"
        case "100x"  => "400"
        case _       => "200"
      })
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.localBuilder(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    if (mode == "100x") { run100x(spark, sfDir, parts); return }
    if (mode == "1000x") { run1000x(spark, sfDir, parts); return }
    if (mode == "stream10x") { runStream10x(spark, sfDir, parts); return }
    if (mode == "skew10x") { runSkew10x(spark, sfDir, parts); return }

    // the synthesized corpus is repartitioned once at synthesis time: a
    // real corpus this size arrives as many parquet splits, while the
    // row-multiplying explode inherits the sf0.1 scan's 1-2 partitions —
    // without this every op's FIRST map stage (shingling, hashing,
    // row-local sketches) runs on 1-2 cores, measuring the synthetic
    // input layout instead of the operator
    val docs = docs10x(spark, graft.Tables(spark, sfDir, "documents"))
      .repartition(parts.toInt)
      .persist() // shared input of every text op — synthesize once
    val vecs = vecs10x(spark, graft.Tables(spark, sfDir, "embeddings"))
      .repartition(parts.toInt).persist()
    val nDocs = docs.count() // materialize before timing the operators
    val nVecs = vecs.count()
    // contamination halves: replica stripes 0-4 vs 5-9 share no doc_id
    val corpusA = docs.filter(col("doc_id") < 50000000L)
    val corpusB = docs.filter(col("doc_id") >= 50000000L)
      .select((col("doc_id") - 50000000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))

    import graft.operators.{Dedup, SimilaritySearch}
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "exact" -> (() => Dedup.exact(docs)),
      "minhash" -> (() => Dedup.nearDupMinHash(docs, k = 3,
        numHashes = 32, bands = 8, threshold = 0.8)),
      "ppjoin" -> (() => Dedup.nearDupJaccard(docs, k = 3, threshold = 0.8)),
      "cluster_hashmin" -> (() => Dedup.clusters(
        Dedup.nearDupMinHash(docs, k = 3, numHashes = 32, bands = 8,
          threshold = 0.8).select("d1", "d2").persist())),
      "cluster_star" -> (() => Dedup.clustersStar(
        Dedup.nearDupMinHash(docs, k = 3, numHashes = 32, bands = 8,
          threshold = 0.8).select("d1", "d2").persist())),
      "contamination" -> (() => Dedup.crossDupMinHash(corpusA, corpusB,
        k = 3, numHashes = 32, bands = 8, threshold = 0.8)),
      // scale-sized LSH: 8-bit band keys (the operator's documented
      // rule — band bits ~ log2(corpus) for O(1) bucket occupancy).
      // The declared sf0.01 query keeps 2-bit bands for its
      // threshold-hugging tail; at 20k vectors 2-bit bands mean 4
      // buckets/band and quadratic candidates (first rehearsal run
      // measured 765 s) — the knob, not the shape, is what changes
      "embed_cluster" -> (() => Dedup.clusters(
        SimilaritySearch.cosinePairsLsh(vecs, threshold = 0.4,
          nBits = 64, rowsPerBand = 8)
          .select(col("v1").as("d1"), col("v2").as("d2")).persist())),
      // the span pairing join is the newest quadratic-potential site:
      // 5 verbatim replicas per source doc push every span's df to ≥5,
      // so the rehearsal exercises the df-cap doing real work — spans
      // shared beyond maxDf docs (corpus templates) must die BEFORE
      // the self-join, keeping fan-out ≤ maxDf² per span
      "shared_spans" -> (() =>
        Dedup.sharedSpans(docs, k = 8, maxDf = 10, minShared = 3)),
      // row-local winnowing at 10× volume: guards the lambda-binding fix
      // (an InferFiltersFromGenerate regression would blow this up
      // ~100×, not ~10%)
      "winnow" -> (() =>
        graft.operators.TextAnalysis.winnow(docs, k = 3, w = 4)),
      // boilerplate strip under maximal template pressure: 5 verbatim
      // replicas push every gram's df ≥ 5, so nearly every position is
      // covered — the covered-set aggregate does its worst-case work
      "boilerplate_strip" -> (() =>
        graft.operators.TextAnalysis.boilerplateStrip(docs, n = 3,
          minDocs = 4)),
      // k-NN graph over the scale-sized LSH pairs: per-vector degree
      // stays bucket-bounded even with 5-member duplicate clusters
      "knn_graph" -> (() =>
        SimilaritySearch.knnGraph(
          SimilaritySearch.cosinePairsLsh(vecs, threshold = 0.4,
            nBits = 64, rowsPerBand = 8).persist(), k = 3)),
      // exact n-gram decontamination at 10×: the df cap and the
      // eval-side Bloom prune both do real work — 5 verbatim replicas
      // per source doc push every gram's df toward ≥10 (so the cap
      // kills template grams BEFORE pairing), and the Bloom filter
      // shrinks the train-side gram stream ahead of the exchange
      "ngram_overlap" -> (() => Dedup.ngramOverlap(corpusA, corpusB,
        n = 5, minShared = 3, maxDf = 20,
        bloomExpectedItems = 1L << 21)),
      // composed tokenize at 10×: the vocab aggregate + broadcast
      // encode + prefix-sum packing must keep their shapes when the
      // corpus is 10× and partitions are cluster-like — the packing
      // driver state stays O(partitions) scalars by construction
      "tokenize_pack" -> (() =>
        graft.operators.Curation.tokenize(docs, vocabSize = 50,
          budget = 256)),
      // PQ at 10× vectors: training stays bounded-driver (m × iters
      // jobs), encoding must remain one shuffle-free projection
      "pq_encode" -> (() =>
        SimilaritySearch.pqEncode(vecs, m = 2, codebookSize = 16,
          iters = 2)),
      // iterative PageRank over the 10× similarity graph: the
      // localCheckpoint lineage cut + scalar constants must hold at
      // cluster-like partition counts (3 join+agg rounds, no BNLJ)
      "graph_rank" -> (() =>
        graft.operators.GraphRank.pageRank(
          SimilaritySearch.knnGraph(
            SimilaritySearch.cosinePairsLsh(vecs, threshold = 0.4,
              nBits = 64, rowsPerBand = 8).persist(), k = 3)
            .select("src", "dst"),
          iterations = 3)),
      // triangle census over the 10× similarity graph: the 10-member
      // verbatim clusters are maximal transitivity pressure (each is a
      // K10 — C(10,3)=120 triangles per source doc), so the degree
      // orientation must keep wedge enumeration at the low endpoint
      // (arboricity bound) instead of squaring hub neighborhoods
      "triangles" -> (() =>
        graft.operators.GraphRank.triangleCounts(
          Dedup.nearDupMinHash(docs, k = 3, numHashes = 32, bands = 8,
            threshold = 0.8).select("d1", "d2").persist())),
      // composed IVF+PQ at 10× vectors with scale-sized cells (16
      // cells ⇒ ~1.25k vectors/cell): training stays bounded-driver
      // (3 k-means runs), candidates come from the broadcast equi-join
      // on cell — candidate mass ≈ nProbe/nCentroids of the corpus per
      // query regardless of corpus size
      "ivf_pq" -> (() =>
        SimilaritySearch.ivfPqTopK(vecs, nQueries = 5, k = 5,
          nCentroids = 16, nProbe = 4, m = 2, codebookSize = 16,
          iters = 2)),
      // incremental crawl dedup at 10×: only (digest, id) shuffles —
      // the corpus side collapses to its distinct digest index before
      // the LEFT ANTI, text never moves
      "incremental_exact" -> (() => Dedup.incrementalExact(docs)),
      // image aHash pairing at 10×: real BMP parse then the blocked
      // Hamming pigeonhole equi-join — never all-pairs
      "phash_pairs" -> (() => Dedup.hammingPairs32(
        graft.operators.Multimodal.imageAHash(spark, docs).toDF(),
        idCol = "doc_id", hashCol = "ahash32", maxHamming = 6)),
      // DSIR importance selection at 10×: bucket LMs broadcast onto
      // the token stream, 1-row total scalars, one doc aggregate
      "select_dsir" -> (() =>
        graft.operators.Curation.importanceResample(docs)),
      // the composed CCNet pipeline at 10×: exact dedup → LM scoring
      // → tertile split, every stage the already-rehearsed shape
      "pipeline_ccnet" -> (() => graft.operators.Curation.ccnet(docs)),
      // MMR rerank at 10× corpus: the candidate pool stays nCand per
      // query by construction, so only the pool-building scan grows —
      // the greedy steps' frames are constant-sized
      "mmr_rerank" -> (() =>
        SimilaritySearch.mmrRerank(vecs, nQueries = 5, nCand = 20, k = 5)),
      // RRF fusion at 10×: three per-language rank windows over one
      // scan — no global sort, no join
      "quality_rrf" -> (() =>
        graft.operators.TextAnalysis.rrfQuality(docs)))

    val results = runOps(spark, selectOps(ops), () => {
      docs.persist(); vecs.persist() // keep the shared inputs resident
      docs.count(); vecs.count()
    })

    // documented tiny-broadcast BNLJ sites (mirrors PlanGuardSpec's
    // allowlist): tokenize's encode stage crosses the 1-row <unk>-id
    // scalar onto the token stream; ivf_pq inherits the nCentroids-row
    // centroid-grid broadcast — both bounded by construction
    // the same documented 1-row-scalar / tiny-grid broadcasts
    // PlanGuardSpec allowlists for the declared queries: tokenize's
    // <unk>-id scalar, IVF's centroid grid, DSIR's LM-total scalars,
    // CCNet's inherited LM/tertile scalars
    // the same documented 1-row-scalar / tiny-grid broadcasts
    // PlanGuardSpec allowlists for the declared queries; mmr_rerank
    // inherits x_sim_topk's broadcast query grid for its candidate pool
    val bnljAllowed = Set("tokenize_pack", "ivf_pq", "select_dsir",
      "pipeline_ccnet", "mmr_rerank")
    val bad = results.filter { case (n, _, _, _, c, b) =>
      c > 0 || (b > 0 && !bnljAllowed.contains(n)) }
    val qs = results.map { case (n, sy, s, r, c, b) =>
      s"""\"$n\":{"sec":${math.round(s.min * 100) / 100.0},"t_synth":${math.round(sy.min * 100) / 100.0},"rows":$r,"cartesian":$c,"bnlj":$b}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"rehearsal":"10x","sf":"$sfDir","n_docs":$nDocs,"n_vecs":$nVecs,"partitions":$parts,"ops":$qs,"plan_guard":"${if (bad.isEmpty) "PASS" else "FAIL"}"}"""
    println(line)
    if (onlyOps.isEmpty) writeBlock("10x", line)
    require(bad.isEmpty,
      s"plan guard violated at 10x scale: ${bad.map(_._1).mkString(", ")}")
    spark.stop()
  }

  /** The 100× block: 500k docs / 200k vectors at a 400-partition
    * cluster-like layout, running the three heaviest 10× ops. Beyond
    * the zero-cartesian/zero-BNLJ guard, this run asserts SUB-LINEAR
    * pair fan-out: with bounded 10-member duplicate clusters
    * ([[docs100x]]), candidate/verified pairs per input row must stay
    * below a constant (10) — a quadratic pairing path would blow
    * through it immediately (500k docs all-pairs ≈ 250k pairs/doc). */
  private def run100x(spark: SparkSession, sfDir: String, parts: String): Unit = {
    import graft.operators.{Dedup, SimilaritySearch}
    // same cluster-like input layout as the 10× block (see main): the
    // synthetic explode inherits the scan's 1-2 partitions, which would
    // serialize every op's first map stage. NO_REPART keeps the legacy
    // serial layout for A/B measurement only.
    val noRepart = sys.env.contains("SPARK_GRAFT_REHEARSAL_NO_REPART")
    def layout(df: DataFrame): DataFrame =
      if (noRepart) df else df.repartition(parts.toInt)
    val docs = layout(docs100x(spark, graft.Tables(spark, sfDir, "documents")))
      .persist()
    val vecs = layout(vecs100x(spark, graft.Tables(spark, sfDir, "embeddings")))
      .persist()
    val nDocs = docs.count()
    val nVecs = vecs.count()
    // contamination halves: replica stripes 0-49 vs 50-99; each holds
    // five verbatim replicas of every source doc, so real cross-corpus
    // duplicate mass exists (5×5 pairs per source) while staying linear
    val corpusA = docs.filter(col("doc_id") < 500000000L)
    val corpusB = docs.filter(col("doc_id") >= 500000000L)
      .select((col("doc_id") - 500000000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    // vector halves on the same stripe split: residues 0-4 land in A
    // and 50-54 in B verbatim, so 5×5 true cross-corpus near-pairs
    // exist per source vector while each half stays linear in size
    val vecsA = vecs.filter(col("vec_id") < 500000000L)
    val vecsB = vecs.filter(col("vec_id") >= 500000000L)
      .select((col("vec_id") - 500000000L).as("vec_id"),
        col("embedding"), col("label"))
    // LSH knob at 200k vectors: 16-bit band keys (~ log2(corpus)), the
    // operator's documented bucket-occupancy rule — shape unchanged
    val embedPairs = () => SimilaritySearch.cosinePairsLsh(
      vecs, threshold = 0.4, nBits = 64, rowsPerBand = 16)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    // The similarity-graph pair table is STAGED once: a production
    // census runs over the dedup pass's already-materialized pairs,
    // so timing the census with a fresh in-lambda MinHash derivation
    // (the round-7 shape) measured the pair generation, not the
    // operator (71.5 s of which the census itself was a small part).
    // Generation is now its own guarded op (`minhash_pairs`), and
    // `triangles` reads the staged parquet.
    val minhashPairs = () => Dedup.nearDupMinHash(docs, k = 3,
      numHashes = 32, bands = 8, threshold = 0.8).select("d1", "d2")
    // 100× intervals for the anchor-free overlap join: purchase windows
    // [ts, ts+120s), each replica shifted by the full 31-day corpus
    // span — replicas tile TIME, so interval density per unit time (and
    // with it per-row fan-out) is CONSTANT in corpus scale; the binned
    // join's output must grow linearly, an all-pairs plan quadratically
    // lazy: selective runs (SPARK_GRAFT_REHEARSAL_ONLY) that exclude
    // these ops must not pay their synthesis/materialization
    lazy val intervals = layout(
      graft.Tables(spark, sfDir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts").cast("long").as("s0"))
        .select(col("*"),
          explode(sequence(lit(0L), lit(99L))).as("replica"))
        .select(
          (col("event_id") + col("replica") * lit(1000000000L))
            .as("event_id"),
          (col("s0") + col("replica") * lit(31L * 24 * 3600)).as("s")))
      .withColumn("e", col("s") + lit(120L))
      .persist()
    lazy val nIv = intervals.count()
    // 100× events for the sketch-store build: same time tiling (users
    // SHARED across replicas — the realistic "same audience, more
    // days" shape), so the store grows to ~100× the day-grain groups
    // while per-group distinct cardinality is constant
    lazy val sketchEvents = layout(
      graft.Tables(spark, sfDir, "events")
        .select(col("ts").cast("long").as("s0"),
          col("event_type"), col("user_id"), col("value"))
        .select(col("*"),
          explode(sequence(lit(0L), lit(99L))).as("replica"))
        .select(
          to_date(from_unixtime(
            col("s0") + col("replica") * lit(31L * 24 * 3600)))
            .as("event_date"),
          col("event_type"), col("user_id"), col("value")))
      .persist()
    lazy val nSketchRows = sketchEvents.count()
    // 100× KEYED events for the stats/merge rows: unique event_id per
    // replica (base + replica·1e9), so the frame range-clusters into
    // non-overlapping per-file key ranges — the layout data skipping
    // and COW merge contractually require
    lazy val keyedEvents = layout(
      graft.Tables(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
        .select(col("*"),
          explode(sequence(lit(0L), lit(99L))).as("replica"))
        .select(
          (col("event_id") + col("replica") * lit(1000000000L))
            .as("event_id"),
          col("user_id"), col("event_type"), col("value")))
      .persist()
    // staging + the skew audit below serve ONLY the ops that read the
    // staged pair table; a selective run (SPARK_GRAFT_REHEARSAL_ONLY)
    // that excludes them must not pay the multi-minute staging write
    // (and must not read the then-empty staging dir in the audit)
    val stagedOps = Set("triangles", "cluster_hashmin", "cluster_star")
    val needStaged = onlyOps.forall(_.exists(stagedOps))
    val pairsDir = java.nio.file.Paths.get(
      graft.operators.Maintenance.scratchDir("graft_tri_pairs"))
    if (needStaged) {
      minhashPairs().write.mode("overwrite").parquet(pairsDir.toString)
      spark.catalog.clearCache() // drop the staging run's internal persists
    }
    def stagedPairs() = spark.read.parquet(pairsDir.toString)
      .select(col("d1"), col("d2"))
    // frozen decontamination index (the serving artifact the per-batch
    // gate probes): built from the eval half ONCE and round-tripped
    // through parquet, outside the decontam_gate timing — selective
    // runs that exclude the gate must not pay the index build
    val gateDir = java.nio.file.Paths.get(
      graft.operators.Maintenance.scratchDir("graft_gate_idx"))
    val needGate = onlyOps.forall(_.contains("decontam_gate"))
    if (needGate) {
      val (gSh, gBands) =
        Dedup.contaminationIndex(corpusB, k = 3, numHashes = 32, bands = 8)
      gSh.write.mode("overwrite").parquet(s"$gateDir/sh")
      gBands.write.mode("overwrite").parquet(s"$gateDir/bands")
      spark.catalog.clearCache()
    }
    def stagedGateSh() = spark.read.parquet(s"$gateDir/sh")
    def stagedGateBands() = spark.read.parquet(s"$gateDir/bands")
    // staged crawl-batch files for the incremental cluster op (three
    // batches by doc_id residue) — input manufacture, outside the
    // timing, same rationale as the gate index above
    val incrRun = graft.streaming.StreamOps.StagedStream.lasting("graft_incr_src")
    val needIncr = onlyOps.forall(_.contains("incr_cluster"))
    if (needIncr) {
      graft.streaming.StreamOps.incrClusterStage(
        docs.select(col("doc_id"), col("text")), incrRun, 3)
      spark.catalog.clearCache()
    }
    // the two CC formulations keep a handle on their constructed frames:
    // both loops end in a Lineage.truncate fixpoint, so the post-run
    // equality audit reads the already-materialized labels instead of
    // re-running the rounds
    var ccHashMin: DataFrame = null
    var ccStar: DataFrame = null
    // maintenance-op scratch: the landing is re-fragmented per rep
    // inside t_synth (compaction consumes its input); each maint_gen /
    // export rep gets a fresh root (the manifest is append-only) —
    // the whole tree is reclaimed at JVM exit (scratchDir hook), so
    // reps no longer accumulate on disk across a rehearsal run
    val maintDir = graft.operators.Maintenance.scratchDir("graft_maint100")
    var maintGenRep = 0
    var exportRep = 0
    var compactGenRep = 0
    var schemaEvolveRep = 0
    var wapRep = 0
    var statsHarvestRep = 0
    var statsSkipRep = 0
    var cowMergeRep = 0
    var cowSource: DataFrame = null
    var cowDeleteRep = 0
    var cowDoomed: DataFrame = null
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "ppjoin" -> (() => Dedup.nearDupJaccard(docs, k = 3, threshold = 0.8)),
      // sub-phase rows: candidate generation timed WITHOUT the exact
      // verify join, so the standing record shows which phase carries
      // each operator's cost (they scale on different axes — candidates
      // with posting collisions, verify with output pairs); verify cost
      // = full row − cand row
      "ppjoin_cand" -> (() =>
        Dedup.jaccardCandidates(docs, k = 3, threshold = 0.8)),
      "minhash_cand" -> (() =>
        Dedup.minHashCandidates(docs, k = 3, numHashes = 32, bands = 8)),
      "embed_pairs" -> (() => embedPairs()),
      "embed_cluster" -> (() => Dedup.clusters(embedPairs().persist())),
      "ngram_overlap" -> (() => Dedup.ngramOverlap(corpusA, corpusB,
        n = 5, minShared = 3, maxDf = 20,
        bloomExpectedItems = 1L << 24)),
      // cross-corpus decontamination at 100× (the round-11 additions'
      // scale rows): candidates join BETWEEN the two banded indexes,
      // so cost is O(|A|+|B|) signatures + true-duplicate verify mass
      // (5×5 verbatim cross pairs per source doc/vec by construction)
      "contamination_minhash" -> (() => Dedup.crossDupMinHash(
        corpusA, corpusB, k = 3, threshold = 0.8,
        numHashes = 32, bands = 8)),
      // sign-LSH knobs follow the documented bucket-occupancy rule at
      // 100k vectors per side: 16-bit band keys, as embed_pairs
      "contamination_embed" -> (() => SimilaritySearch.crossCosineLsh(
        vecsA, vecsB, threshold = 0.4, nBits = 64, rowsPerBand = 16)),
      // incremental index refresh at 100×: training = bounded-driver
      // Lloyd aggregates over the base split, delta assign = one
      // zero-shuffle literal-centroid projection; output rows must be
      // EXACTLY nVecs (fan-out 1.0 — any duplication is a bug)
      "ivf_refresh" -> (() => SimilaritySearch.ivfRefreshAssign(
        vecs.filter(col("vec_id") % 5 =!= 4),
        Seq(vecs.filter(col("vec_id") % 5 === 4)), nCentroids = 8)),
      // anchor-free overlap join at 100× (2M time-tiled intervals):
      // W = the interval length, fan-out ≤ 2 bins/row; constant
      // density ⇒ per-row pair fan-out must match sf0.1's (~0.93)
      "interval_join" -> (() => graft.operators.IntervalJoin
        .overlapPairs(intervals, "event_id", "s", "e", binWidth = 120L)),
      // mergeable-sketch store build at 100× (10M events → ~15k
      // day-grain sketches): ONE partial/final ObjectHashAggregate,
      // exchange carries sketch bytes — linear by measurement; output
      // rows = store groups, ~0.15% of input
      "sketch_build" -> (() => graft.operators.SketchStore.buildSketches(
        sketchEvents, Seq("event_date", "event_type"), "user_id")),
      // the KLL and theta halves of the store at the SAME 10M-event
      // synthesis: asserted shape-identical to the HLL build (one
      // partial/final TypedImperativeAggregate, sketch bytes on the
      // exchange) — these rows replace that assertion with measurement
      "sketch_build_kll" -> (() => graft.operators.SketchStore
        .buildQuantileSketches(
          sketchEvents, Seq("event_date", "event_type"), "value")),
      "sketch_build_theta" -> (() => graft.operators.SketchStore
        .buildThetaSketches(
          sketchEvents, Seq("event_date", "event_type"), "user_id")),
      // the heavy-hitters (Misra-Gries) fourth half at the same
      // synthesis: counter-table purges make its per-row work the
      // highest of the four, but the plan shape is the same single
      // partial/final TypedImperativeAggregate
      "sketch_build_freq" -> (() => graft.operators.SketchStore
        .buildFreqSketches(
          sketchEvents.withColumn("uid", col("user_id").cast("string")),
          Seq("event_date", "event_type"), "uid")),
      // the per-micro-batch decontamination gate (x_stream_decontam's
      // inner loop) at 100×: the frozen eval index is STAGED to parquet
      // outside the timing (built once per benchmark refresh, not per
      // batch), so the row measures exactly what one ingested batch
      // pays — index read + banded cross-probe + exact verify. Compare
      // against contamination_minhash (same halves, index built
      // inline): the delta is the amortizable index-build cost.
      "decontam_gate" -> (() => Dedup.crossDupAgainstIndex(
        corpusA, stagedGateSh(), stagedGateBands(),
        k = 3, threshold = 0.8, numHashes = 32, bands = 8)),
      "minhash_pairs" -> (() => minhashPairs()),
      // triangle census over the bounded-cluster similarity graph:
      // each source doc's K10 yields a CONSTANT 120 triangles, so the
      // per-vertex output stays exactly 1 row and the wedge fan-out
      // the orientation bounds is the quantity under test
      "triangles" -> (() => graft.operators.GraphRank.triangleCounts(
        stagedPairs())),
      // the connected-components DECISION row at 100×: Hash-Min
      // (O(diameter) rounds) vs large-star/small-star (O(log n)) over
      // the SAME staged pair table — a production dedup pass runs CC
      // over already-materialized pairs, so the staged read isolates
      // the formulations from pair generation. SCALING.md records the
      // winner; the post-run audit asserts identical labels.
      "cluster_hashmin" -> (() => {
        ccHashMin = Dedup.clusters(stagedPairs().persist()); ccHashMin }),
      "cluster_star" -> (() => {
        ccStar = Dedup.clustersStar(stagedPairs().persist()); ccStar }),
      // incremental crawl dedup at 100×: the digest index absorbs the
      // 10-member verbatim families, so survivors stay ~batch-sized
      "incremental_exact" -> (() => Dedup.incrementalExact(docs)),
      // image aHash pairing at 100×: maxHamming drops 6 → 2 — the
      // 32-bit sketch's pigeonhole blocks are ~4.6 bits at radius 6,
      // far too coarse for 100k images (bucket depth ~4k ⇒ quadratic
      // candidates); radius 2 gives ~10.7-bit blocks, the documented
      // corpus-scale knob rule (the shape — blocked equi-join, exact
      // Hamming verify — is unchanged; a production corpus at this
      // size uses the 64-bit sketch family)
      "phash_pairs" -> (() => Dedup.hammingPairs32(
        graft.operators.Multimodal.imageAHash(spark, docs).toDF(),
        idCol = "doc_id", hashCol = "ahash32", maxHamming = 2)),
      // the 64-bit sketch at the SAME corpus, at the declared query's
      // radius 6 (~9-bit block keys): where the 32-bit sketch collapses
      // 100k images to ~6k distinct hashes (2.08M forced identical-hash
      // pairs even at radius 2 — round-10 density analysis), the 64-bit
      // output should be ≈ the true duplicate mass (45 pairs per
      // 10-member verbatim family ⇒ ~0.9 pairs/doc) — the documented
      // corpus-scale remedy, now measured rather than asserted
      "phash_pairs64" -> (() => Dedup.hammingPairs64(
        graft.operators.Multimodal.imageAHash64(spark, docs).toDF(),
        idCol = "doc_id", hashCol = "ahash64", maxHamming = 6)),
      // incremental cluster maintenance (x_dedup_incr_cluster's loop)
      // at 100×: three crawl batches from the staged src, each paying
      // one band-index probe of strictly-earlier batches + within-batch
      // MinHash + bounded-frontier CC; output = the final label
      // generation (docs-in-pairs roster — the 10-member verbatim
      // families, fan-out 0.1). The staged src is read per rep with a
      // fresh checkpoint/state dir, so every rep runs the full loop.
      "incr_cluster" -> (() => graft.streaming.StreamOps
        .incrClusterStream(spark, incrRun)),
      // small-file compaction at 100× BYTE volume / 10× file count
      // (480 landed fragments of the 10M-event frame, re-fragmented
      // per rep inside t_synth): the op must cost O(small-file bytes +
      // listing), never O(logical table) — the stats row carries the
      // file accounting so a selection regression is visible
      "maint_compact" -> (() => {
        val st = graft.operators.Maintenance.compactDir(spark,
          s"$maintDir/landing",
          targetBytes = 128L << 20, minFileBytes = 8L << 20)
        require(st.filesRewritten == 480 && st.filesWritten >= 1,
          s"maint_compact expected all 480 fragments selected: $st")
        spark.range(1).select(
          lit(st.filesBefore).as("files_before"),
          lit(st.filesRewritten).as("files_rewritten"),
          lit(st.filesWritten).as("files_written"),
          lit(st.bytesRewritten).as("bytes_rewritten"))
      }),
      // generational lifecycle at 100×: three day-grain state commits
      // computed from the 10M-event frame, an incident rollback and a
      // keep-2 vacuum — the COMMITS carry the cost (each is a full
      // state aggregate + write); rollback and vacuum must stay
      // metadata-only, which the wall-clock of this row demonstrates
      // against the sketch_build band (one aggregate ≈ one commit)
      // last-mile shard export at 100× (500k docs, ~50M tokens): the
      // packSequences layout at a production-scale 1M-token shard
      // budget (~50 shards), payload joined and landed hive-partitioned
      // one-file-per-shard, manifest aggregated from the landed files —
      // layout shuffle + doc_id join + shard exchange + write is the
      // whole cost; output rows = shard count (fan-out ~1e-4)
      "export_shards" -> (() => {
        exportRep += 1
        graft.operators.Packing.exportShards(
          docs.select(col("doc_id"), col("text")),
          shardTokens = 1 << 20,
          outDir = s"$maintDir/export_rep$exportRep")
      }),
      // snapshot-isolated compaction at the same 100× byte volume as
      // maint_compact: the 10M-event frame committed as 480 fragments
      // into a generational root (t_synth, fresh root per rep — the
      // manifest is append-only), then compactGen packs it as a NEW
      // commit. Op cost = the same O(small-file bytes) coalesce write
      // PLUS the manifest append — the delta vs the maint_compact band
      // is the snapshot-isolation overhead, which must stay ~zero
      "maint_compact_gen" -> (() => {
        val root = s"$maintDir/cgen_rep$compactGenRep"
        val (g, st) = graft.operators.Maintenance.compactGen(spark, root,
          targetBytes = 128L << 20, minFileBytes = 8L << 20)
        require(g == 2 && st.filesRewritten == 480,
          s"maint_compact_gen expected 480 fragments packed: ($g, $st)")
        spark.range(1).select(
          lit(st.filesBefore).as("files_before"),
          lit(st.filesRewritten).as("files_rewritten"),
          lit(st.filesWritten).as("files_written"),
          lit(st.bytesRewritten).as("bytes_rewritten"))
      }),
      // schema evolution at 100×: three day-grain state commits where
      // commit 2 renames total -> amount and adds a column, then a
      // reconciled time-travel read of the PRE-evolution snapshot.
      // The evolution machinery is manifest-resolved (KB-sized,
      // driver-side): the band must match maint_gen's commit-dominated
      // cost — any excess is reconciliation leaking into the data path
      "schema_evolve" -> (() => {
        schemaEvolveRep += 1
        val root = s"$maintDir/sev_rep$schemaEvolveRep"
        val state = sketchEvents
          .groupBy("event_date", "event_type")
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        graft.operators.Maintenance.commit(spark, root, state)
        val evolved = state.withColumnRenamed("total", "amount")
          .withColumn("src", lit("agg"))
        graft.operators.Maintenance.commit(spark, root, evolved,
          renames = Map("amount" -> "total"))
        graft.operators.Maintenance.commit(spark, root, evolved)
        val g1 = graft.operators.Maintenance.readGen(spark, root, 1)
        require(g1.columns.toSeq ==
          Seq("event_date", "event_type", "n", "amount", "src"),
          s"reconciled pre-evolution columns wrong: ${g1.columns.toSeq}")
        g1
      }),
      // write-audit-publish at 100×: stage the 10M-event day-grain
      // state (the write), audit it from the landed bytes (one scan),
      // publish (one rename + manifest append). The row's claim:
      // lifecycle ≈ stage write + audit scan — publish must stay
      // O(metadata) at any batch size, so the band is ~one maint_gen
      // commit + a read, NOT three commits
      "maint_wap" -> (() => {
        wapRep += 1
        val root = s"$maintDir/wap_rep$wapRep"
        val state = sketchEvents
          .groupBy("event_date", "event_type")
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        val st = graft.operators.Maintenance.stageCommit(spark, root, state)
        val bad = graft.operators.Maintenance.readStage(spark, root, st)
          .filter(col("n") <= 0).count()
        require(bad == 0, s"audit found $bad violations in staged state")
        val g = graft.operators.Maintenance.publish(spark, root, st)
        graft.operators.Maintenance.readGen(spark, root, g)
      }),
      // footer-stats harvest at 100×: 400 files × 10M rows, two
      // columns — the write-side marginal cost of commitWithStats.
      // The op reads O(files) KB-sized FOOTERS on executors and zero
      // data pages, so its band must be file-count-shaped (seconds),
      // never data-shaped (a 10M-row scan) — the row is the proof the
      // stats layer stays O(metadata) as the table grows
      "stats_harvest" -> (() => {
        val gen1 = f"$maintDir/sh_rep$statsHarvestRep/gen_${1}%08d"
        val stats = graft.operators.TableStats.harvestDir(
          spark, gen1, Seq("event_id", "value"))
        val out = stats.toDF().persist()
        val n = out.count()
        require(n == 800L, s"expected 400 files x 2 columns, got $n")
        out
      }),
      // data skipping at 100×: a 1%-selective range over the
      // 400-file range-clustered table must plan a ≤5% file scan —
      // the op is the PRUNED read (sidecar resolve + file-subset
      // scan + the real filter), so its band is O(selected bytes),
      // and the in-op requires make a pruning regression loud
      "stats_skip" -> (() => {
        val root = s"$maintDir/ss_rep$statsSkipRep"
        val lo = 42L * 1000000000L
        val hi = lo + 999999999L
        val pr = graft.operators.Maintenance.prunedReadCurrent(
          spark, root, "event_id", lo, hi)
        require(pr.filesRead > 0 && pr.filesRead * 20 <= pr.filesTotal,
          s"1% range must prune to a <=5% file subset: $pr")
        pr.df.filter(col("event_id").between(lo, hi))
      }),
      // copy-on-write merge at 100×: ~11k source rows (10k localized
      // updates + 1k new keys, pre-staged in t_synth — a real merge
      // is GIVEN its source) against the 10M-row table. The probe is
      // the join-free segment index over the source; the rewrite only
      // the intersecting file(s). Band = O(touched bytes + probe),
      // NOT O(table): the stats row carries the file accounting so a
      // prune regression (rewriting the world) is visible even when
      // wall-clock noise hides it
      "cow_merge" -> (() => {
        val root = s"$maintDir/cm_rep$cowMergeRep"
        val st = graft.operators.Maintenance.merge(
          spark, root, cowSource, "event_id")
        require(st.filesRewritten * 10 <= st.filesTotal &&
          st.filesReferenced > 0,
          s"COW merge must rewrite a <=10% file subset: $st")
        spark.range(1).select(
          lit(st.filesTotal).as("files_total"),
          lit(st.filesRewritten).as("files_rewritten"),
          lit(st.filesReferenced).as("files_referenced"),
          lit(st.rowsWritten).as("rows_written"))
      }),
      // copy-on-write DELETE at 100× (the right-to-be-forgotten job):
      // a pre-staged ~3.3k-key localized purge set against the
      // 10M-row table — probe + rewrite of only the band's file(s) +
      // file-granular commit. Band = cow_merge minus the union (the
      // same lifecycle constants), and the stats row's file
      // accounting makes a prune regression loud
      "cow_delete" -> (() => {
        val root = s"$maintDir/cd_rep$cowDeleteRep"
        val st = graft.operators.Maintenance.delete(
          spark, root, cowDoomed, "event_id")
        require(st.filesRewritten * 10 <= st.filesTotal &&
          st.filesReferenced > 0 && st.rowsDeleted > 0,
          s"COW delete must purge a <=10% file subset: $st")
        spark.range(1).select(
          lit(st.filesTotal).as("files_total"),
          lit(st.filesRewritten).as("files_rewritten"),
          lit(st.filesReferenced).as("files_referenced"),
          lit(st.rowsDeleted).as("rows_deleted"))
      }),
      "maint_gen" -> (() => {
        maintGenRep += 1
        val root = s"$maintDir/table_rep$maintGenRep"
        val state = sketchEvents
          .groupBy("event_date", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value")).as("total"))
        val g1 = graft.operators.Maintenance.commit(spark, root,
          state.filter(col("event_type") =!= "purchase"))
        graft.operators.Maintenance.commit(spark, root, state)
        graft.operators.Maintenance.commit(spark, root, state)
        graft.operators.Maintenance.rollback(spark, root, toGen = g1)
        val reclaimed =
          graft.operators.Maintenance.vacuum(spark, root, keepLast = 2)
        require(reclaimed == Seq(2),
          s"keep-2 vacuum with gen 4 -> gen 1 pointer must reclaim " +
            s"exactly gen 2, got $reclaimed")
        graft.operators.Maintenance.readCurrent(spark, root)
      }))
    // min-of-N within the one warmed JVM (see runOps scaladoc): the
    // committed 100x protocol is reps=3 — SPARK_GRAFT_REHEARSAL_REPS
    // overrides for quick iteration
    val reps = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_REPS", "3").toInt
    // op-specific resident inputs, restored inside t_synth (round-13
    // fix): the interval/sketch corpora used to be re-synthesized
    // INSIDE the op timing after each rep's cache clear — the
    // committed sketch rows were "mostly their own 10M-row
    // re-synthesis". Registered per-op so selective runs still never
    // pay a corpus their ops don't read.
    val restoreSketch = () => {
      sketchEvents.persist(); sketchEvents.count(); ()
    }
    val extras: Map[String, () => Unit] = Map(
      "interval_join" -> (() => { intervals.persist(); intervals.count(); () }),
      "sketch_build" -> restoreSketch,
      "sketch_build_kll" -> restoreSketch,
      "sketch_build_theta" -> restoreSketch,
      "sketch_build_freq" -> restoreSketch,
      // input manufacture for the compaction row: land the 10M-event
      // frame as 480 small fragments (mode=overwrite resets the
      // previous rep's compacted files)
      "maint_compact" -> (() => {
        restoreSketch()
        sketchEvents.repartition(480)
          .write.mode("overwrite").parquet(s"$maintDir/landing")
      }),
      // input manufacture for the snapshot-isolated variant: commit
      // the frame as 480 fragments into a FRESH generational root
      // (compactGen on an already-compacted root is a fixpoint no-op)
      "maint_compact_gen" -> (() => {
        restoreSketch()
        compactGenRep += 1
        graft.operators.Maintenance.commit(spark,
          s"$maintDir/cgen_rep$compactGenRep",
          sketchEvents.repartition(480))
        ()
      }),
      "schema_evolve" -> restoreSketch,
      "maint_wap" -> restoreSketch,
      "maint_gen" -> restoreSketch,
      // input manufacture for the stats/merge rows: restore the keyed
      // frame, then land it range-clustered into a fresh generational
      // root per rep (the commit IS the input — its cost, a 10M-row
      // range shuffle + 400-file write, must not pollute the op band).
      // stats_harvest commits WITHOUT stats (the op harvests);
      // stats_skip / cow_merge commit WITH the event_id sidecar the
      // op consumes.
      "stats_harvest" -> (() => {
        keyedEvents.persist(); keyedEvents.count()
        statsHarvestRep += 1
        graft.operators.Maintenance.commit(spark,
          s"$maintDir/sh_rep$statsHarvestRep",
          keyedEvents.repartitionByRange(400, col("event_id")))
        ()
      }),
      "stats_skip" -> (() => {
        keyedEvents.persist(); keyedEvents.count()
        statsSkipRep += 1
        graft.operators.Maintenance.commitWithStats(spark,
          s"$maintDir/ss_rep$statsSkipRep",
          keyedEvents.repartitionByRange(400, col("event_id")),
          statsColumns = Seq("event_id"))
        ()
      }),
      "cow_merge" -> (() => {
        keyedEvents.persist(); keyedEvents.count()
        cowMergeRep += 1
        graft.operators.Maintenance.commitWithStats(spark,
          s"$maintDir/cm_rep$cowMergeRep",
          keyedEvents.repartitionByRange(400, col("event_id")),
          statsColumns = Seq("event_id"))
        if (cowSource == null) {
          val lo = 42L * 1000000000L + 10000L
          val upd = keyedEvents
            .filter(col("event_id").between(lo, lo + 9999L))
            .withColumn("event_type", lit("updated"))
            .withColumn("value", col("value") * 2)
          val ins = keyedEvents
            .filter(col("event_id").between(lo, lo + 999L))
            .withColumn("event_id",
              col("event_id") + lit(1000000000000000L))
            .withColumn("event_type", lit("inserted"))
          cowSource = upd.unionByName(ins).persist()
          cowSource.count()
        }
        ()
      }),
      "cow_delete" -> (() => {
        keyedEvents.persist(); keyedEvents.count()
        cowDeleteRep += 1
        graft.operators.Maintenance.commitWithStats(spark,
          s"$maintDir/cd_rep$cowDeleteRep",
          keyedEvents.repartitionByRange(400, col("event_id")),
          statsColumns = Seq("event_id"))
        if (cowDoomed == null) {
          val lo = 17L * 1000000000L + 50000L
          cowDoomed = keyedEvents
            .filter(col("event_id").between(lo, lo + 9999L) &&
              col("event_id") % 3 === 0)
            .select("event_id").persist()
          cowDoomed.count()
        }
        ()
      }))
    val results = runOps(spark, selectOps(ops), () => {
      docs.persist(); vecs.persist()
      docs.count(); vecs.count()
    }, reps = reps, extras = extras)
    // Skew audit for the wedge join (the census' only quadratic-risk
    // site): per-vertex wedge work is C(outdeg, 2) under the (deg, id)
    // orientation, so the MAX orientation out-degree bounds the worst
    // task's fan-out. Reported so a hub regression is visible even
    // when wall-clock noise hides it. Skipped (fields omitted) when
    // staging was — reading the never-written dir would throw.
    val triAudit = if (!needStaged) "" else {
      val pairsStaged = stagedPairs()
      val degAudit = pairsStaged
        .select(explode(array(col("d1"), col("d2"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val oriented = pairsStaged
        .join(degAudit.select(col("v").as("d1"), col("deg").as("dega")), "d1")
        .join(degAudit.select(col("v").as("d2"), col("deg").as("degb")), "d2")
        .select(when(struct(col("dega"), col("d1")) <
            struct(col("degb"), col("d2")), col("d1"))
          .otherwise(col("d2")).as("u"))
        .groupBy("u").agg(count(lit(1)).as("outdeg"))
      val audit = oriented
        .agg(max("outdeg").as("mx"),
          sum(expr("(outdeg * (outdeg - 1)) div 2")).as("wedges"))
        .head()
      s""""tri_max_outdeg":${audit.getLong(0)},"tri_wedges":${audit.getLong(1)},"""
    }
    // CC equality audit: both fixpoints are already materialized
    // (Lineage.truncate), so one order-insensitive checksum aggregate
    // per side compares the full (doc_id, rep_id, cluster_size) label
    // sets without re-running any rounds
    // the equality REQUIRE is deferred to after the ops line is
    // emitted and the staging dir removed: a label mismatch must not
    // leak the multi-GB pairsDir or discard the run's timing record
    val ccEqual: Option[Boolean] =
      if (ccHashMin == null || ccStar == null) None else {
        // order-insensitive checksums that cannot overflow under ANSI
        // arithmetic (a raw sum of full-range xxhash64 longs does): XOR
        // plus a modular sum of the row hashes, plus the row count —
        // together multiset equality evidence over distinct label rows
        def fp(df: DataFrame) = df
          .select(xxhash64(col("doc_id"), col("rep_id"),
            col("cluster_size")).as("h"))
          .agg(expr("bit_xor(h)").as("x"),
            sum(pmod(col("h"), lit(1000000007L))).as("s"),
            count(lit(1)).as("n")).head()
        val (a, b) = (fp(ccHashMin), fp(ccStar))
        Some((0 to 2).forall(i => a.getLong(i) == b.getLong(i)))
      }
    val ccAudit = ccEqual.map(e => s""""cc_labels_equal":$e,""").getOrElse("")
    // a function, not a Map: the lazy denominators (nIv, nSketchRows)
    // must only materialize for ops that actually ran
    def denom(n: String): Long = n match {
      case "embed_pairs" | "embed_cluster" | "contamination_embed"
           | "ivf_refresh" => nVecs
      case "interval_join" => nIv
      case "sketch_build" | "sketch_build_kll"
           | "sketch_build_theta" | "sketch_build_freq" => nSketchRows
      case _ => nDocs
    }
    val fanoutCap = 10.0
    val pairOps = Set("ppjoin", "ppjoin_cand", "minhash_cand",
      "embed_pairs", "ngram_overlap",
      "contamination_minhash", "contamination_embed", "ivf_refresh",
      "interval_join", "decontam_gate",
      "minhash_pairs", "triangles", "phash_pairs", "phash_pairs64",
      "incr_cluster")
    val bad = results.filter { case (n, _, _, r, c, b) =>
      c > 0 || b > 0 ||
        (pairOps(n) && r.toDouble / denom(n) > fanoutCap)
    }
    val qs = results.map { case (n, sy, s, r, c, b) =>
      val fo = math.round(r.toDouble / denom(n) * 1000) / 1000.0
      val runsJson = s.map(v => math.round(v * 100) / 100.0).mkString("[", ",", "]")
      val synthJson = sy.map(v => math.round(v * 100) / 100.0).mkString("[", ",", "]")
      s"""\"$n\":{"sec":${math.round(s.min * 100) / 100.0},"sec_runs":$runsJson,"t_synth":${math.round(sy.min * 100) / 100.0},"t_synth_runs":$synthJson,"rows":$r,"per_row_fanout":$fo,"cartesian":$c,"bnlj":$b}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"rehearsal":"100x","sf":"$sfDir","n_docs":$nDocs,"n_vecs":$nVecs,"partitions":$parts,"reps":$reps,"fanout_cap":$fanoutCap,$triAudit$ccAudit"ops":$qs,"plan_guard":"${if (bad.isEmpty) "PASS" else "FAIL"}"}"""
    println(line)
    if (onlyOps.isEmpty) writeBlock("100x", line)
    // the staging dir is a per-run scratch area — remove it so repeated
    // rehearsals don't accumulate multi-GB temp trees
    locally {
      import scala.jdk.CollectionConverters._
      Seq(pairsDir, gateDir, java.nio.file.Paths.get(incrRun.work)).foreach { d =>
        if (java.nio.file.Files.exists(d))
          java.nio.file.Files.walk(d).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    require(bad.isEmpty,
      s"plan/fan-out guard violated at 100x scale: ${bad.map(_._1).mkString(", ")}")
    require(ccEqual.forall(identity),
      "cluster_hashmin and cluster_star disagree at 100x")
    spark.stop()
  }

  /** The 1000× spot-check: 5M synthetic docs, ONE run of the two
    * heaviest pairing shapes (PPJoin full chain, MinHash-LSH pair
    * generation), shape-only gates — confirms the fan-out caps and
    * partition scaling hold one more decade out before anyone trusts
    * the 100 TB story. Same bounded-cluster synthesis principle as
    * [[docs100x]] (replica stripe residue < 5 in each 500-half stays
    * verbatim → 10-member families, constant C(10,2) pair mass per
    * source doc; the other 990 replicas get every odd word tagged,
    * breaking every 3-shingle), so qualifying pairs per input row must
    * FALL another 10× relative to the 100× block. Timings are recorded
    * but are NOT the contract (one run, spill-heavy at this volume —
    * the corpus persists MEMORY_AND_DISK_SER and shuffles spill);
    * gates are 0 cartesian / 0 BNLJ / fan-out cap / completion without
    * OOM. Run with SPARK_DRIVER_MEM=48g. */
  private def run1000x(spark: SparkSession, sfDir: String, parts: String): Unit = {
    import graft.operators.{Dedup, SimilaritySearch}
    // lazy inputs + need-gated setup: a selective run must not pay the
    // multi-minute synthesis of corpora its ops never read
    def needs(names: Set[String]): Boolean =
      onlyOps.forall(_.exists(names))
    val docOps = Set("ppjoin", "minhash_pairs")
    val vecOps = Set("embed_pairs", "embed_cluster")
    lazy val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("*"), explode(sequence(lit(0L), lit(999L))).as("replica"))
      .select(
        (col("doc_id") + col("replica") * lit(10000000L)).as("doc_id"),
        when(col("replica") % 500 < 5, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+) (\\S+)"),
            concat(lit("$1u"), col("replica"), lit(" $2"))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(parts.toInt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    lazy val nDocs = docs.count()
    // 1000× embeddings (2M × 64-dim): same bounded-cluster synthesis as
    // vecs100x one decade further — residue < 5 per 500-stripe keeps
    // the vector verbatim (10-member cosine-1 families, constant
    // C(10,2)=45 true pairs per source vec), every other replica is
    // re-randomized per component, so qualifying pairs per input row
    // must FALL 10× vs the 100× block (0.27 → ~0.045/row)
    lazy val vecs = graft.Tables(spark, sfDir, "embeddings")
      .select(col("*"), explode(sequence(lit(0L), lit(999L))).as("replica"))
      .select(
        (col("vec_id") + col("replica") * lit(10000000L)).as("vec_id"),
        when(col("replica") % 500 < 5, col("embedding"))
          .otherwise(expr(
            "cast(transform(embedding, (x, i) -> " +
              "(pmod(xxhash64(vec_id, replica, i), 2001) - 1000) / 1000.0" +
              ") as array<float>)"))
          .as("embedding"),
        col("label"))
      .repartition(parts.toInt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    lazy val nVecs = vecs.count()
    // 1000× intervals (20M): the same time tiling as the 100× row one
    // decade further — density per unit time constant, so per-row
    // fan-out must stay at the sf0.1 value (~0.93) while output grows
    // exactly linearly
    lazy val intervals = graft.Tables(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts").cast("long").as("s0"))
      .select(col("*"), explode(sequence(lit(0L), lit(999L))).as("replica"))
      .select(
        (col("event_id") + col("replica") * lit(1000000000L)).as("event_id"),
        (col("s0") + col("replica") * lit(31L * 24 * 3600)).as("s"))
      .withColumn("e", col("s") + lit(120L))
      .repartition(parts.toInt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    lazy val nIv = intervals.count()
    // 1000× sketch events (100M): the 100× worst-case-locality
    // synthesis one decade further — 1000 replicas shift the day grain
    // across ~85 years, so the (day, type) group count grows 10× to
    // 150k while per-group cardinality stays constant; the store
    // build's linear claim now has all three decades (sf0.1 inline /
    // 10M / 100M) on measurement
    lazy val sketchEvents = graft.Tables(spark, sfDir, "events")
      .select(col("ts").cast("long").as("s0"),
        col("event_type"), col("user_id"))
      .select(col("*"),
        explode(sequence(lit(0L), lit(999L))).as("replica"))
      .select(
        to_date(from_unixtime(
          col("s0") + col("replica") * lit(31L * 24 * 3600)))
          .as("event_date"),
        col("event_type"), col("user_id"))
      .repartition(parts.toInt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    lazy val nSketchRows = sketchEvents.count()
    // sign-LSH band keys follow the documented bucket-occupancy rule
    // (~log2(corpus) bits): 2M vectors → 20-bit keys, 3 bands — the
    // knob the operator's scaladoc prescribes, NOT a new shape; mean
    // bucket depth stays ~2 so candidate mass stays linear
    val embedPairs = () => SimilaritySearch.cosinePairsLsh(
      vecs, threshold = 0.4, nBits = 60, rowsPerBand = 20)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "ppjoin" -> (() => Dedup.nearDupJaccard(docs, k = 3, threshold = 0.8)),
      "minhash_pairs" -> (() => Dedup.nearDupMinHash(docs, k = 3,
        numHashes = 32, bands = 8, threshold = 0.8).select("d1", "d2")),
      "embed_pairs" -> (() => embedPairs()),
      "embed_cluster" -> (() => Dedup.clusters(embedPairs().persist())),
      "interval_join" -> (() => graft.operators.IntervalJoin
        .overlapPairs(intervals, "event_id", "s", "e", binWidth = 120L)),
      "sketch_build" -> (() => graft.operators.SketchStore.buildSketches(
        sketchEvents, Seq("event_date", "event_type"), "user_id")))
    // per-op input restoration, timed as t_synth (round-13 fix: the
    // one-phase protocol booked the 100M-row synthesis into the op —
    // sketch_build read 565.7 s of which 442.2 s was input
    // manufacture). Each op restores ONLY its own corpus; the
    // MEMORY_AND_DISK_SER level is re-declared because the previous
    // op's clearCache dropped the registration, not just the blocks.
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val extras: Map[String, () => Unit] = Map(
      "ppjoin" -> (() => { docs.persist(ser); docs.count(); () }),
      "minhash_pairs" -> (() => { docs.persist(ser); docs.count(); () }),
      "embed_pairs" -> (() => { vecs.persist(ser); vecs.count(); () }),
      "embed_cluster" -> (() => { vecs.persist(ser); vecs.count(); () }),
      "interval_join" ->
        (() => { intervals.persist(ser); intervals.count(); () }),
      "sketch_build" ->
        (() => { sketchEvents.persist(ser); sketchEvents.count(); () }))
    val results = runOps(spark, selectOps(ops), () => (), extras = extras)
    def denom(n: String): Long = n match {
      case "ppjoin" | "minhash_pairs" => nDocs
      case "interval_join" => nIv
      case "sketch_build" => nSketchRows
      case _ => nVecs
    }
    val fanoutCap = 10.0
    val bad = results.filter { case (n, _, _, r, c, b) =>
      c > 0 || b > 0 || r.toDouble / denom(n) > fanoutCap
    }
    val qs = results.map { case (n, sy, s, r, c, b) =>
      val fo = math.round(r.toDouble / denom(n) * 1000) / 1000.0
      s"""\"$n\":{"sec":${math.round(s.min * 100) / 100.0},"t_synth":${math.round(sy.min * 100) / 100.0},"rows":$r,"per_row_fanout":$fo,"cartesian":$c,"bnlj":$b}"""
    }.mkString("{", ",", "}")
    val nDocsJson = if (needs(docOps)) nDocs.toString else "null"
    val nVecsJson = if (needs(vecOps)) nVecs.toString else "null"
    val line =
      s"""{"rehearsal":"1000x","sf":"$sfDir","n_docs":$nDocsJson,"n_vecs":$nVecsJson,"partitions":$parts,"fanout_cap":$fanoutCap,"ops":$qs,"plan_guard":"${if (bad.isEmpty) "PASS" else "FAIL"}"}"""
    println(line)
    if (onlyOps.isEmpty) writeBlock("1000x", line)
    require(bad.isEmpty,
      s"plan/fan-out guard violated at 1000x scale: ${bad.map(_._1).mkString(", ")}")
    spark.stop()
  }

  /** STATEFUL-STREAMING rehearsal at 10× events: the batch blocks above
    * bound dedup/ANN shuffles; this block bounds STATE-STORE growth for
    * the three stateful shapes (`x_stream_join`, `x_stream_state`,
    * `x_stream_upsert`) when the stream is 10× longer than the declared
    * query's input and arrives as many watermark-advancing microbatches
    * — the axis on which an unbounded stream actually kills a job.
    *
    * Input: 1M events (10 replicas, disjoint event_id/user_id stripes —
    * 15k state keys, same per-user event density as the base table),
    * written as `nStripes` time-range files with ascending pinned
    * mtimes, so `maxFilesPerTrigger=1` yields a deterministic
    * watermark TRAJECTORY (the [[graft.streaming.StreamOps]]
    * lateDataWindowed trick at rehearsal scale).
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
  private def runStream10x(
      spark: SparkSession, sfDir: String, parts: String): Unit = {
    import org.apache.spark.sql.streaming.StreamingQuery
    val nStripes = 10
    val ev10 = graft.Tables(spark, sfDir, "events")
      .select(col("*"), explode(sequence(lit(0L), lit(9L))).as("replica"))
      .select(
        (col("event_id") + col("replica") * lit(1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("replica") * lit(100000L)).as("user_id"),
        col("event_type"), col("value"))
      .persist()
    val nRows = ev10.count()
    val nUsers = ev10.select("user_id").distinct().count()
    val bounds = ev10.agg(min(col("ts")), max(col("ts"))).head()
    val (tMin, tMax) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
    val span = tMax.getTime - tMin.getTime
    val work = graft.operators.Maintenance.scratchDir("graft_stream10x")
    val src = s"$work/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val t0 = System.currentTimeMillis()
    (0 until nStripes).foreach { i =>
      val lo = new java.sql.Timestamp(tMin.getTime + span * i / nStripes)
      val hi = new java.sql.Timestamp(tMin.getTime + span * (i + 1) / nStripes)
      val stripe = ev10.filter(col("ts") >= lit(lo) &&
        (if (i == nStripes - 1) lit(true) else col("ts") < lit(hi)))
      stripe.coalesce(1).write.mode("overwrite")
        .parquet(s"$work/tmp$i")
      val part = new java.io.File(s"$work/tmp$i").listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $work/tmp$i"))
      val dest = java.nio.file.Paths.get(s"$src/stripe$i.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(t0 - (nStripes - i) * 30000L))
    }
    val schema = ev10.schema
    def stripedStream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

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
        .option("checkpointLocation", s"$work/ckpt_$name")
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
    val joined = a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES") &&
        col("a_id") < col("b_id"))
    val j = runStateful("join", joined)

    // 2) flatMapGroupsWithState running totals (NoTimeout: state is
    // intentionally key-bounded, never event-bounded)
    val st = runStateful("state",
      graft.streaming.StreamOps.runningUserTotals(spark, stripedStream()))

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
    val rocksKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(rocksKey)
    spark.conf.set(rocksKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (h, ts) = try {
      val h = runStateful("hwm",
        graft.streaming.StreamOps.highWaterMarks(spark, stripedStream()))
      val ts = runStateful("timer_sessions",
        graft.streaming.StreamOps.timerSessions(spark, stripedStream()))
      (h, ts)
    } finally prevProv match {
      case Some(v) => spark.conf.set(rocksKey, v)
      case None    => spark.conf.unset(rocksKey)
    }

    // 3) foreachBatch CDC upsert: merge every stripe into the
    // partition-pruned state table; "state" = the table itself
    import graft.operators.ChangeCapture
    val keys = Seq("user_id"); val versions = Seq("ts", "event_id")
    val payload = Seq("event_type", "value")
    val statePath = s"$work/cdc_state"
    val log0 = spark.read.schema(schema).parquet(s"$src/stripe0.parquet")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("event_type"), col("value"))
    ChangeCapture.writeCdcState(log0, statePath, keys, versions, "op", payload)
    val tU = System.nanoTime()
    val uq = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (id > 0) { // stripe0 seeded the state
          val cdc = batch.select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "error", "D").otherwise("U").as("op"),
            col("event_type"), col("value"))
          ChangeCapture.mergeIntoState(
            batch.sparkSession, statePath, cdc, keys, versions, "op", payload)
        }
      }
      .option("checkpointLocation", s"$work/ckpt_upsert")
      // default microbatch trigger, NOT AvailableNow: this build
      // coalesces all available files into one batch under
      // AvailableNow (see StreamOps.lateDataWindowed), and the
      // rehearsal's point is one MERGE PER STRIPE
      .start()
    try uq.processAllAvailable() finally uq.stop()
    val uSec = (System.nanoTime() - tU) / 1e9
    val uRows = ChangeCapture.readCurrentState(spark, statePath, "op").count()

    // 4) foreachBatch sketch-store maintenance (x_stream_sketch's
    // shape at 10×): each stripe's per-(day, type) HLL partials are
    // union-merged into the persisted store by generation swap.
    // "State" here is the store itself — the guard proves it is
    // bounded by |groups| (rows) and KBs/group (bytes), never by
    // |events|: the HLL union monoid absorbs every stripe into
    // fixed-size registers, which is the store's 100 TB contract.
    import graft.operators.SketchStore
    val sketchState =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    var sGen = 0
    val tS = System.nanoTime()
    val sq = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val partial = SketchStore.buildSketches(
          batch.select(to_date(col("ts")).as("event_date"),
            col("event_type"), col("user_id")),
          Seq("event_date", "event_type"), "user_id")
        val merged = Option(sketchState.get()) match {
          case None => partial
          case Some(prev) =>
            s.read.parquet(prev).unionByName(partial)
              .groupBy("event_date", "event_type")
              .agg(
                hll_union_agg(col(SketchStore.SketchCol))
                  .as(SketchStore.SketchCol),
                sum(SketchStore.RowCountCol).as(SketchStore.RowCountCol))
        }
        sGen += 1
        val next = s"$work/sketch_state_$sGen"
        merged.write.mode("overwrite").parquet(next)
        sketchState.set(next)
      }
      .option("checkpointLocation", s"$work/ckpt_sketch")
      // default microbatch trigger: one union-merge PER STRIPE (see
      // the upsert block's AvailableNow note)
      .start()
    try sq.processAllAvailable() finally sq.stop()
    val sSec = (System.nanoTime() - tS) / 1e9
    val sketchStore = spark.read.parquet(sketchState.get())
    val sRows = sketchStore.count()
    val sEvents = sketchStore
      .agg(sum(SketchStore.RowCountCol)).head().getLong(0)
    val nGroups = ev10
      .select(to_date(col("ts")).as("d"), col("event_type"))
      .distinct().count()
    val sBytes = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files
        .walk(java.nio.file.Paths.get(sketchState.get()))
        .iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }

    // 5) incremental dedup-cluster maintenance at 10× docs: the crawl
    // corpus arrives as 5 batches through StreamOps.incrClusterMaintain
    // (per-batch band-index probe + bounded-frontier CC). The guard
    // proves the maintained label state IS the batch CC result (the
    // checksum-equality audit the 100× CC rows use) and that state
    // rows stay on the docs-in-pairs roster — never the pair count,
    // never the batch history.
    import graft.operators.Dedup
    val docs10 = docs10x(spark, graft.Tables(spark, sfDir, "documents"))
      .select(col("doc_id"), col("text")).persist()
    val nDocs10 = docs10.count()
    val tC = System.nanoTime()
    val incrLabels =
      graft.streaming.StreamOps.incrClusterMaintain(spark, docs10, nBatches = 5)
    val cSec = (System.nanoTime() - tC) / 1e9
    val batchLabels = Dedup.clusters(Dedup.nearDupMinHash(docs10))
    def fpLabels(df: DataFrame) = df
      .select(xxhash64(col("doc_id"), col("rep_id"),
        col("cluster_size")).as("h"))
      .agg(expr("bit_xor(h)").as("x"),
        sum(pmod(col("h"), lit(1000000007L))).as("s"),
        count(lit(1)).as("n")).head()
    val (fpIncr, fpBatch) = (fpLabels(incrLabels), fpLabels(batchLabels))
    val incrEqual = (0 to 2).forall(i => fpIncr.getLong(i) == fpBatch.getLong(i))
    val incrRows = fpIncr.getLong(2)
    spark.catalog.clearCache()

    // 6) streaming COW merge at 10× (x_stream_cow_merge's shape): the
    // 1M-row keyed table committed range-clustered into ~100 files
    // with an event_id sidecar, then 10 id-LOCALIZED change batches
    // (one replica band each, disjoint — merge order immaterial)
    // foreachBatch-merge sequentially. This is monotonic-ingest CDC,
    // the shape where the table's cluster axis and the change stream
    // agree; the guard proves per-batch work stays file-LOCAL (every
    // batch rewrites a ≤20% file minority and references the rest)
    // and the table ends at generation 11 with history intact —
    // per-batch cost O(batch + touched files), never O(table).
    val cowRoot = s"$work/cow_table"
    val keyed10 = ev10.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    graft.operators.Maintenance.commitWithStats(spark, cowRoot,
      keyed10.repartitionByRange(100, col("event_id")),
      statsColumns = Seq("event_id"))
    val cowRun = new graft.streaming.StreamOps.StagedStream(s"$work/cow")
    (0 until nStripes).foreach { r =>
      keyed10.filter(
          col("event_id") >= lit(r * 1000000000L) &&
          col("event_id") < lit((r + 1) * 1000000000L) &&
          col("event_id") % 3 === 0)
        .withColumn("event_type", lit(s"u$r"))
        .withColumn("value", col("value") * 2)
        .coalesce(1).write.mode("append").parquet(cowRun.src)
    }
    val cowStats = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.operators.Maintenance.MergeStats]()
    val tCow = System.nanoTime()
    cowRun.drain(spark) { (batch, _) =>
      cowStats.add(graft.operators.Maintenance.merge(
        batch.sparkSession, cowRoot, batch, "event_id"))
    }
    val cowSec = (System.nanoTime() - tCow) / 1e9
    val cowMs = {
      import scala.jdk.CollectionConverters._
      cowStats.asScala.toSeq
    }
    val cowGen = graft.operators.Maintenance.currentGen(spark, cowRoot)
    val cowMaxRewrite =
      if (cowMs.isEmpty) -1 else cowMs.map(_.filesRewritten).max
    val cowMinRef =
      if (cowMs.isEmpty) -1 else cowMs.map(_.filesReferenced).min

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
        sRows == nGroups && sEvents == nRows &&
          sBytes < nGroups * 20000L))
    val bad = checks.filterNot(_._2).map(_._1)
    val qs = Seq(
      s""""stream_join":{"sec":${math.round(j.secs * 100) / 100.0},"batches":${j.batches},"state_peak":${j.peak},"state_final":${j.fin},"state_removed":${j.removed}}""",
      s""""stream_state":{"sec":${math.round(st.secs * 100) / 100.0},"state_peak":${st.peak},"state_final":${st.fin},"n_keys":$nUsers}""",
      s""""stream_hwm":{"sec":${math.round(h.secs * 100) / 100.0},"state_peak":${h.peak},"state_final":${h.fin},"rocksdb_bytes":${h.rocksBytes},"n_keys":$nUsers}""",
      s""""stream_timer_sessions":{"sec":${math.round(ts.secs * 100) / 100.0},"state_peak":${ts.peak},"state_final":${ts.fin},"state_removed":${ts.removed},"rocksdb_bytes":${ts.rocksBytes}}""",
      s""""stream_upsert":{"sec":${math.round(uSec * 100) / 100.0},"state_rows":$uRows,"n_keys":$nUsers}""",
      s""""stream_sketch":{"sec":${math.round(sSec * 100) / 100.0},"state_rows":$sRows,"n_groups":$nGroups,"n_events_merged":$sEvents,"state_bytes":$sBytes,"batches":$sGen}""",
      s""""stream_incr_cluster":{"sec":${math.round(cSec * 100) / 100.0},"batches":5,"label_rows":$incrRows,"n_docs":$nDocs10,"cc_equal":$incrEqual}""",
      s""""stream_cow_merge":{"sec":${math.round(cowSec * 100) / 100.0},"batches":$nStripes,"gens":$cowGen,"files_total_final":${if (cowMs.isEmpty) -1 else cowMs.last.filesTotal},"max_files_rewritten":$cowMaxRewrite,"min_files_referenced":$cowMinRef}""")
      .mkString("{", ",", "}")
    val line =
      s"""{"rehearsal":"stream10x","sf":"$sfDir","n_events":$nRows,"n_users":$nUsers,"stripes":$nStripes,"partitions":32,"ops":$qs,"state_guard":"${if (bad.isEmpty) "PASS" else "FAIL"}"}"""
    println(line)
    if (onlyOps.isEmpty) writeBlock("stream10x", line)
    require(bad.isEmpty, s"state guard violated at 10x: ${bad.mkString(", ")}")
    spark.stop()
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
  private def runSkew10x(
      spark: SparkSession, sfDir: String, parts: String): Unit = {
    val li10 = graft.Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .select(col("*"), explode(sequence(lit(0L), lit(9L))).as("replica"))
      .drop("replica")
      .persist()
    val n = li10.count()
    val flags = li10.select(col("l_returnflag")).distinct()
      .withColumn("flag_tag", concat(lit("tag_"), col("l_returnflag")))
      .persist()
    flags.count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def agg(j: DataFrame): DataFrame =
      j.groupBy("l_returnflag", "flag_tag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
    def timeIt(f: () => DataFrame): Double = {
      val t = System.nanoTime()
      f().write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t) / 1e9
    }
    def withConfs(confs: (String, String)*)(body: => Double): Double = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    val plain = withConfs(
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      timeIt(() => agg(li10.join(flags, "l_returnflag")))
    }
    val aqeSkew = withConfs(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2") {
      timeIt(() => agg(li10.join(flags, "l_returnflag")))
    }
    val salted = withConfs(
      "spark.sql.adaptive.skewJoin.enabled" -> "false") {
      timeIt(() => agg(
        graft.operators.SkewJoin.saltedJoin(li10, flags, "l_returnflag",
          saltFactor = 32)))
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    val winner =
      Seq("plain" -> plain, "aqe_skew" -> aqeSkew, "salted" -> salted)
        .minBy(_._2)._1
    val line =
      s"""{"rehearsal":"skew10x","sf":"$sfDir","n_rows":$n,"partitions":$parts,"ops":{"plain":${math.round(plain * 100) / 100.0},"aqe_skew":${math.round(aqeSkew * 100) / 100.0},"salted":${math.round(salted * 100) / 100.0}},"winner":"$winner"}"""
    println(line)
    if (onlyOps.isEmpty) writeBlock("skew10x", line)
    spark.stop()
  }
}
