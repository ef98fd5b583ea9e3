package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.storage.StorageLevel

import graft.functions.{Hashing, Similarity}

/** Approximate & exact nearest-neighbor search over embedding columns
  * (`ArrayType(FloatType)`).
  *
  * Two paths:
  *  - [[bruteTopK]] — exact: broadcast the (small) query set against the
  *    corpus, cosine per pair, per-query top-k via window. Scales
  *    linearly in |corpus| × |queries|; the corpus is never shuffled.
  *  - [[lshTopK]] — random-hyperplane LSH: bucket every vector by the
  *    sign pattern of its dot products with a fixed probe set, search
  *    only within the query's bucket. At scale this turns a full scan
  *    into a bucket-local scan (expected |corpus| / 2^probes candidates);
  *    buckets are a plain column, so the bucket join shuffles on a
  *    short string key.
  *
  * Probes here are drawn deterministically from the corpus itself (the
  * lowest vec_ids) so results are reproducible across engines without a
  * shared RNG. A production deployment would use fixed random
  * hyperplanes; the plumbing is identical.
  *
  * [[cosinePairsLsh]] is the embedding-space near-dup operator (banded
  * sign-LSH candidates, exact cosine verify); [[cosinePairsExact]] is
  * its all-pairs ground-truth baseline, test-scale only.
  *
  * Several operators persist an intermediate frame that both the
  * candidate and verify branches consume (e.g. `withBits`, the IVF
  * assignment); those stay cached in the returned frame's lineage —
  * batch callers should `spark.catalog.clearCache()` between corpora.
  */
object SimilaritySearch {

  /** JVM-scope cache of TRAINED quantizer models, keyed by
    * (model kind + params, canonicalized input plan). A serving stack
    * trains its coarse/product quantizers once and reuses them across
    * every index build and query batch; here the composed queries
    * (`x_sim_ivf`, `x_embed_pq`, `x_sim_ivf_pq`, …) were each
    * re-running the identical deterministic k-means over the same
    * corpus — pure waste, since training is a pure function of
    * (input rows, params) and the Lloyd rounds use exact fixed-point
    * sums (bit-for-bit reproducible, so a cached model IS the
    * recomputed model). Same JVM-scope trick as the Sinks write-once
    * tables; entries are O(centroids × dim) floats — bytes, not data.
    * The canonicalized-plan key carries the parquet path, so different
    * scale factors (or any different input frame) never share a model.
    * Assumes the files under a given path are immutable for the JVM's
    * lifetime — true for the testdata and for any sane corpus
    * snapshot; call [[clearTrainedModels]] after rewriting one. */
  private val trainedModels =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  private def cachedModel[T <: AnyRef](
      vecs: DataFrame, tag: String)(train: => T): T =
    planKey(vecs) match {
      case Some(key) =>
        trainedModels.computeIfAbsent((tag, key), _ => train).asInstanceOf[T]
      case None => train // non-file input: identity is ambiguous, no cache
    }

  /** Cache key for the input frame, defined ONLY when every leaf is a
    * file relation: canonicalized plan (exprIds normalized, so two
    * reads of the same table compare equal) PLUS the scanned root paths
    * collected explicitly — a relation's canonicalized string is not
    * guaranteed to print its location, and two scale factors must never
    * share a trained model. An in-memory leaf (test frames, memory-sink
    * tables) yields None: its canonicalized form does not print its
    * DATA, so two different corpora could collide — those train
    * uncached every call. */
  private def planKey(vecs: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val plan = vecs.queryExecution.analyzed
    val leaves = plan.collectLeaves()
    val paths = leaves.map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(fs.location.rootPaths.mkString(","))
        case _                    => None
      }
      case _ => None
    }
    if (paths.isEmpty || paths.exists(_.isEmpty)) None
    else {
      // canonicalized.toString elides expression lists past
      // spark.sql.debug.maxToStringFields (default 25), so two frames
      // differing only in the elided tail would share a key string;
      // the structural hashCode walks the FULL tree, so the pair
      // (truncated string, full-tree hash, root paths) cannot collide
      // for semantically different plans in practice
      val c = plan.canonicalized
      Some(c.toString + "#" + c.hashCode + "|" +
        paths.flatten.mkString(";"))
    }
  }

  /** Drop every cached trained model (tests / corpus-rewrite hook). */
  def clearTrainedModels(): Unit = trainedModels.clear()

  /** Vectors annotated with their L2 norm — computed once per vector so
    * pairwise cosine needs only the cross dot product. Numerically
    * identical to recomputing norms per pair (norms are per-vector
    * deterministic). */
  private def withNorm(vecs: DataFrame, id: String, vec: String): DataFrame =
    vecs.select(
      col("vec_id").as(id), col("embedding").as(vec),
      sqrt(Similarity.norm2(col("embedding"))).as(s"${id}_nrm"))

  /** Per-vector int8 scalar quantization summary — the storage-shrink
    * step before an ANN index ships to serving (4 bytes/dim → 1):
    * q_i = floor((v_i − min) · 255 / (max − min)) ∈ [0, 255], with
    * constant vectors mapping to all-zeros.
    *
    * floor (not round) keeps the arithmetic bit-identical across
    * engines: both sides evaluate the same double expression, and floor
    * has no half-way tie semantics to disagree on. The emitted columns
    * are per-vector range bounds plus two exact integer checksums of
    * the quantized array (plain sum and position-weighted sum) — enough
    * to pin every q_i cross-engine without comparing array-typed
    * columns. Row-local, no shuffle; the interpreted HOF is fine at
    * this width (a fused codegen expression à la GramFingerprint is
    * the path if quantization ever tops a profile).
    *
    * Output: (vec_id, mn, mx, qsum, qdot). */
  def quantizeInt8(vecs: DataFrame): DataFrame = {
    val qi =
      "IF(mx = mn, 0L, CAST(floor((CAST(element_at(embedding, i + 1) AS DOUBLE)" +
        " - mn) * 255 / (mx - mn)) AS BIGINT))"
    vecs
      .withColumn("mn", array_min(col("embedding")).cast("double"))
      .withColumn("mx", array_max(col("embedding")).cast("double"))
      .withColumn("qsum", expr(
        s"aggregate(transform(sequence(0, size(embedding) - 1), i -> $qi)," +
          " 0L, (a, x) -> a + x)"))
      .withColumn("qdot", expr(
        s"aggregate(transform(sequence(0, size(embedding) - 1)," +
          s" i -> $qi * CAST(i + 1 AS BIGINT)), 0L, (a, x) -> a + x)"))
      .select(col("vec_id"), round(col("mn"), 4).as("mn"),
        round(col("mx"), 4).as("mx"), col("qsum"), col("qdot"))
  }

  /** k-NN graph assembly from a near-dup pair frame (e.g.
    * [[cosinePairsLsh]] output): symmetrize the (v1, v2, cos) edges and
    * keep each vector's top `k` neighbors by cosine (ties: neighbor id
    * asc). The per-vector window is bounded by the vector's LSH
    * candidate degree — bucket-bounded by construction, so the rank
    * never concentrates into one task the way a global window would.
    *
    * Output: (src, dst, cos, rank). */
  def knnGraph(pairs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"invalid knnGraph k=$k")
    val sym = pairs
      .select(col("v1").as("src"), col("v2").as("dst"), col("cos"))
      .unionByName(
        pairs.select(col("v2").as("src"), col("v1").as("dst"), col("cos")))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    sym
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Johnson–Lindenstrauss sign random projection (Achlioptas JCSS'03:
    * ±1 entries suffice for JL): reduce `inDim`-dimensional embeddings
    * to `outDim` components, p_i = Σ_j v_j · s(i,j), with the sign
    * matrix s(i,j) = ±1 derived from the portable hash32 of "proj:i:j" —
    * no stored model, and any engine (the DuckDB oracle included)
    * re-derives the identical matrix from MD5.
    *
    * The outDim×inDim sign matrix is precomputed DRIVER-SIDE
    * ([[Hashing.hash32Local]]) and embedded as literal arrays, so the
    * per-row cost is a pure multiply-add over the vector — no per-row
    * hashing, no shuffle, no broadcast: the ideal 100 TB projection
    * pass (row-local, whole-partition streaming).
    *
    * Determinism: each component is quantized to a 1e-6 fixed-point
    * BIGINT before the ±1-weighted sum (`zip_with` + `aggregate` — the
    * sum order is the array order, but quantizing first makes it exact
    * integer arithmetic anyway); the final /1e6 double divide is
    * IEEE-deterministic.
    *
    * Output: (vec_id, p0 .. p<outDim-1>) as doubles. */
  def signProject(vecs: DataFrame, inDim: Int, outDim: Int = 8): DataFrame = {
    require(inDim >= 1 && outDim >= 1,
      s"invalid projection: inDim=$inDim outDim=$outDim")
    val projCols = (0 until outDim).map { i =>
      val signs = (0 until inDim)
        .map(j => if (Hashing.hash32Local(s"proj:$i:$j") % 2 == 0) 1L else -1L)
      expr(
        s"CAST(aggregate(zip_with(embedding, array(${signs.mkString(",")}), " +
          "(x, s) -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * s), " +
          "0L, (a, x) -> a + x) AS DOUBLE) / 1000000").as(s"p$i")
    }
    vecs.select(col("vec_id") +: projCols: _*)
  }

  /** Per-label elementwise centroids — the class-prototype step of
    * embedding pipelines (cluster representatives, k-means init,
    * prototype classification, semantic-dedup medoid seeds).
    *
    * Determinism at scale: each float component is widened to double
    * (exact) and quantized to a 1e-6 fixed-point BIGINT BEFORE
    * aggregation, so the per-(label, dimension) sum is exact integer
    * arithmetic — the mean is independent of partition/merge order,
    * where a naive float sum would differ run-to-run. The final
    * division chain (sum → /1e6 → /n) is IEEE-correctly-rounded from
    * identical inputs in every engine.
    *
    * Shape: posexplode fans each vector into (label, dim, q) rows; one
    * partial+final aggregate on (label, dim) — the shuffle carries
    * |labels| × dim combiner cells, never the vectors. Long-form output
    * (one row per (label, dim)) keeps the result engine-portable.
    *
    * Output: (label, pos, n_vecs, centroid). */
  def labelCentroids(vecs: DataFrame, labelCol: String = "label"): DataFrame =
    vecs
      .select(col(labelCol).as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos").cast("long").as("pos"),
        round(col("x").cast("double") * 1000000).cast("long").as("q"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_q"))
      .select(col("label"), col("pos"), col("n_vecs"),
        (col("sum_q").cast("double") / 1000000 / col("n_vecs"))
          .as("centroid"))

  /** Label-outlier detection: each vector's cosine to its OWN label's
    * centroid ([[labelCentroids]]), keeping the `k` least-similar
    * vectors per label — the mislabeled-example / noisy-cluster sweep
    * an embedding-curation pass runs before training a classifier.
    *
    * Determinism: dot(v, c), ‖v‖² and ‖c‖² are all sums of per-element
    * products quantized to 1e-6 fixed-point BIGINTs before aggregation
    * (order-free exact); the e6 factors cancel in the cosine ratio, and
    * the rank ties on (rounded cosine, vec_id).
    *
    * Shape: the centroid table (|labels| × dim rows) broadcasts onto
    * the posexploded vector components; one (vec_id, label) aggregate
    * re-assembles per-vector sums; the final window is |label|-bucketed
    * with per-label row counts, the same boundedness as a grouped
    * top-k.
    *
    * Output: (label, vec_id, cos_c, out_rank). */
  def embedOutliers(vecs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"invalid embedOutliers k=$k")
    val cents = labelCentroids(vecs)
    val sums = vecs
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"),
        col("pos").cast("long").as("pos"), col("x").cast("double").as("x"))
      .join(broadcast(cents.select("label", "pos", "centroid")),
        Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(
        sum(round(col("x") * col("centroid") * 1000000).cast("long"))
          .as("dot_e6"),
        sum(round(col("x") * col("x") * 1000000).cast("long")).as("vv_e6"))
    val cn = cents.groupBy("label")
      .agg(sum(round(col("centroid") * col("centroid") * 1000000)
        .cast("long")).as("cc_e6"))
    val w = Window.partitionBy("label").orderBy(col("cos_c").asc, col("vec_id"))
    sums.join(broadcast(cn), "label")
      .withColumn("cos_c", round(
        col("dot_e6").cast("double")
          / (sqrt(col("vv_e6").cast("double"))
            * sqrt(col("cc_e6").cast("double"))), 4))
      .withColumn("out_rank", row_number().over(w).cast("long"))
      .filter(col("out_rank") <= k)
      .select("label", "vec_id", "cos_c", "out_rank")
  }

  /** Exact top-k neighbors for each query vector (queries = vec_id <
    * nQueries), excluding self. Output: (q_id, vec_id, rank, cos). */
  def bruteTopK(vecs: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpus = withNorm(vecs, "vec_id", "embedding")
    val queries = withNorm(vecs.filter(col("vec_id") < nQueries), "q_id", "q_vec")
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_raw").desc, col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        Similarity.dot(col("embedding"), col("q_vec"))
          / (col("vec_id_nrm") * col("q_id_nrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("q_id"), col("vec_id"), col("rank"),
        round(col("cos_raw"), 4).as("cos"))
  }

  /** Exact embedding near-dup BASELINE: all pairs (v1 < v2) with cosine
    * ≥ threshold. O(|corpus|²) by construction — the ground truth the
    * banded operator ([[cosinePairsLsh]]) is measured against in
    * TierXSpec, and test-scale-only for the same reason [[bruteTopK]]
    * is: at 100 TB use the banded path. */
  def cosinePairsExact(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = withNorm(vecs, "v1", "e1")
    val b = withNorm(vecs, "v2", "e2")
    a.crossJoin(b)
      .filter(col("v1") < col("v2"))
      .withColumn("cos_raw",
        Similarity.dot(col("e1"), col("e2"))
          / (col("v1_nrm") * col("v2_nrm")))
      .filter(col("cos_raw") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos_raw"), 4).as("cos"))
  }

  /** The nProbes lowest-vec_id vectors, collected to the driver. Probes
    * are a bounded O(nProbes × dim) constant — the same driver footprint
    * as a broadcast relation, but usable as literal columns so the
    * sign-bit computation is a pure projection (no join node at all,
    * where a broadcast probe table would plan a BroadcastNestedLoopJoin
    * and a per-vector aggregate). Deterministic: orderBy(vec_id). */
  private def probeVectors(vecs: DataFrame, n: Int): Seq[Seq[Float]] =
    vecs.orderBy("vec_id").limit(n).select("embedding")
      .collect().map(_.getSeq[Float](0)).toSeq

  /** Deterministic uniform sample of n vectors for k-means seeding:
    * order by the portable hash of the id, not the id itself. The
    * lowest-id prefix can be arbitrarily unrepresentative (ids often
    * correlate with insert time / source); hashing decorrelates the
    * pick from any id structure while every engine (and the DuckDB
    * oracle) reproduces the identical sample. Same bounded
    * O(n × dim) driver footprint as [[probeVectors]]. */
  private def seedVectors(vecs: DataFrame, n: Int): Seq[Seq[Float]] =
    vecs.orderBy(
        Hashing.hash32(col("vec_id").cast("string")), col("vec_id"))
      .limit(n).select("embedding")
      .collect().map(_.getSeq[Float](0)).toSeq

  /** Sign-pattern string for `embedding` against literal probes:
    * char p = '1' iff dot(vec, probe_p) ≥ 0. Codegen'd dot products,
    * zero shuffles. */
  private def signBitsExpr(probes: Seq[Seq[Float]]): Column =
    concat(probes.map { p =>
      when(Similarity.dot(col("embedding"), typedlit(p)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }: _*)

  /** Sign-pattern bucket id for every vector, probes = the nProbes
    * lowest vec_ids actually present (derived, not assumed — a corpus
    * whose ids don't start at 0 would otherwise produce NULL buckets
    * for everything). Pure projection over literal probe vectors. */
  def lshBuckets(vecs: DataFrame, nProbes: Int = 4): DataFrame =
    vecs.select(
      col("vec_id"), signBitsExpr(probeVectors(vecs, nProbes)).as("bucket"))

  /** Embedding near-dup with banded sign-LSH candidates (the MinHash
    * banding pattern transplanted to hyperplane LSH): nBits sign bits
    * per vector, split into bands of rowsPerBand bits; vectors colliding
    * in ANY band become candidates; exact cosine verifies. Candidates
    * come from an equi-join on (band, key) — never a cartesian — so the
    * shape survives scale: cost is Σ_buckets |bucket|², tuned by
    * rowsPerBand (≈ log2(corpus) bits per band for ~O(1) bucket
    * occupancy; more bands recover the recall that longer bands cost).
    *
    * Recall is probabilistic in the cosine: P[band hit] =
    * (1 − θ/π)^rowsPerBand per band. The defaults (16 bits, 8 bands of
    * 2) are tuned for this corpus's threshold-hugging tail — measured
    * 98–99% recall vs [[cosinePairsExact]] at cos ≥ 0.4 (sf0.01/sf0.1),
    * where near-dups sit barely above the cut (p ≈ 0.64/bit). A corpus
    * with true duplicate structure (cos ≥ 0.9, p ≥ 0.86/bit) takes
    * 8-bit bands at >97% recall with ~40× candidate pruning.
    *
    * Caching contract (the [[ivfPqRecallCurve]] convention): calling
    * this method is EAGER — the skinny (vec_id, bits) fingerprint frame
    * is persisted and pinned hot with a count() before the band
    * self-join is even constructed (rationale inline below), so merely
    * building the returned DataFrame runs one Spark job and leaves one
    * cache entry behind. The persist lives until the caller runs
    * `spark.catalog.clearCache()` (the Verify/Bench harnesses do) or
    * unpersists; it cannot be released here — the returned frame is
    * lazy and reads it at execution time. A long-lived library caller
    * invoking this repeatedly should clear the cache between calls.
    *
    * Output: (v1, v2, cos) for caught pairs with cosine ≥ threshold. */
  def cosinePairsLsh(
      vecs: DataFrame,
      threshold: Double,
      nBits: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    require(nBits >= 1 && nBits <= 64,
      s"cosinePairsLsh packs sign bits into one long: nBits in [1, 64], got $nBits")
    val bands = nBits / rowsPerBand
    // PACKED sign-bit fingerprint: bit p set iff dot(vec, probe_p) >= 0
    // — one long per vector instead of an nBits-char string. The string
    // form allocated nBits+1 UTF8Strings PER ROW in the projection and
    // shipped an nBits-byte key through the band shuffle; at the 100×
    // rehearsal (64 probes × 200k vectors) that allocation churn
    // dominated the whole operator. Same sign pattern, same banding,
    // identical output pairs.
    // one fused expression, not nBits composed dot columns — see
    // [[graft.expressions.SignBitsPacked]] for the measured 4-7× gap
    val packedBits =
      graft.expressions.SignBitsPacked(col("embedding"),
        probeVectors(vecs, nBits))
    // fanOut: the fingerprint dot pass AND the two exact-verify sides
    // below are heavy row-local passes chained on the corpus scan —
    // jobtrace measured the verify sides as two concurrent ~850 ms
    // SINGLE-task jobs at sf0.1 (the scan's split count) while the
    // rest of the host idled; one shared repartition feeds all three
    // consumers (identical subplan → ReusedExchange), and at
    // production scale the scan out-splits the cores and this is a
    // no-op (the [[graft.operators.Lineage.fanOut]] contract)
    val src = graft.operators.Lineage.fanOut(vecs)
    // Only the SKINNY (vec_id, bits) fingerprint is persisted — 16
    // bytes/row. The previous form cached the embedding array alongside
    // it, and Spark's in-memory columnar store writes complex-typed
    // columns through a per-element generic codec: materializing that
    // cache measured ~30-50 s at the 100× rehearsal while the 64-probe
    // dot compute itself is ~6 s. The verify sides below re-read the
    // embedding from the SOURCE frame instead (a columnar parquet scan
    // or the caller's own cache — both cheap), re-computing one norm
    // per side per row.
    val withBits = src.select(col("vec_id"), packedBits.as("bits"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // eager: the band self-join launches BOTH map sides as concurrent
    // AQE stages; un-materialized, each races to compute every cache
    // partition (cache-write locking serializes the racers, measured
    // as 2× the probe pass at the 100× rehearsal). One count pins the
    // fingerprints hot before the join fans out.
    withBits.count()
    val keyMask = (1L << rowsPerBand) - 1
    def bandKey(bits: Column, b: Int): Column =
      shiftrightunsigned(bits, b * rowsPerBand).bitwiseAND(lit(keyMask))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(col("bits"), b).as("key"))
    }
    val banded = withBits
      .select(col("vec_id"), col("bits"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bits"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Multi-band dedup WITHOUT the candidate-pair `.distinct()`: a pair
    // colliding in b bands used to emit b rows into a corpus-pair-sized
    // dedup shuffle. Instead each collision row carries both sides'
    // full bit words, and a codegen'd when-chain keeps the pair only
    // at its FIRST colliding band (all earlier bands' keys differ) —
    // exactly one surviving row per candidate pair, identical output,
    // zero extra exchange. The chain is bands×(bands−1)/2 shift-mask
    // compares worst-case, row-local and cheap next to the shuffle it
    // replaces.
    val firstBandOnly = (1 until bands).foldLeft(
        when(col("band") === 0, lit(true))) { (acc, b) =>
      acc.when(col("band") === b,
        (0 until b).map { p =>
          bandKey(col("a.bits"), p) =!= bandKey(col("b.bits"), p)
        }.reduce(_ && _))
    }
    val cand = banded.as("a").join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(firstBandOnly)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
    val sa = src.select(
      col("vec_id").as("v1"), col("embedding").as("e1"),
      sqrt(Similarity.norm2(col("embedding"))).as("n1"))
    val sb = src.select(
      col("vec_id").as("v2"), col("embedding").as("e2"),
      sqrt(Similarity.norm2(col("embedding"))).as("n2"))
    cand.join(sa, "v1").join(sb, "v2")
      .withColumn("cos_raw",
        Similarity.dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos_raw") >= threshold)
      .select(col("v1"), col("v2"), round(col("cos_raw"), 4).as("cos"))
  }

  /** CROSS-CORPUS cosine near-dup — semantic decontamination: every
    * (train vector, eval vector) pair with cosine ≥ threshold, the
    * embedding-space complement of [[graft.operators.Dedup.ngramOverlap]]
    * (exact n-gram collisions) and [[graft.operators.Dedup.crossDupMinHash]]
    * (text-sketch Jaccard): a paraphrased or lightly-reworded benchmark
    * document shares no n-grams and little shingle mass with its
    * training-set twin, but their embeddings stay near-parallel — the
    * SemDeDup-style contamination test.
    *
    * Same banded sign-LSH index as [[cosinePairsLsh]] — packed
    * fingerprints ([[graft.expressions.SignBitsPacked]]), first-band
    * dedup, exact-cosine verification from the source frames — but the
    * band join runs BETWEEN the two fingerprint frames: cost is
    * O(|A| + |B|) fingerprint rows plus band-bucket collisions, never
    * |A| × |B|. The PROBE hyperplanes come from corpus A's first
    * `nBits` vectors (one bounded driver collect — the
    * [[cosinePairsLsh]] convention; both sides must hash against the
    * SAME probes or band keys are incomparable).
    *
    * Id contract: `vec_id` must be unique across BOTH corpora (the
    * [[graft.operators.Dedup.crossDupMinHash]] rule) — no d1 < d2
    * dedup applies, every surviving (A, B) pair is distinct by id
    * disjointness.
    *
    * Caching contract: EAGER like [[cosinePairsLsh]] — both skinny
    * fingerprint frames persist and pin hot before the cross join
    * (same AQE stage-race rationale); released by
    * `spark.catalog.clearCache()`.
    *
    * Output: (train_id, eval_id, cos) for cross pairs ≥ threshold. */
  def crossCosineLsh(
      vecsA: DataFrame,
      vecsB: DataFrame,
      threshold: Double,
      nBits: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    require(nBits >= 1 && nBits <= 64,
      s"crossCosineLsh packs sign bits into one long: nBits in [1, 64], got $nBits")
    val bands = nBits / rowsPerBand
    val probes = probeVectors(vecsA, nBits)
    // NO fanOut here, unlike [[cosinePairsLsh]]: measured 1.10× (A/B,
    // x_contamination_embed, r16) — the cross-corpus sides are
    // filtered slices whose verify work does not amortize the added
    // exchange; the within-corpus form's full-corpus scans do
    val (srcA, srcB) = (vecsA, vecsB)
    def withBits(v: DataFrame) = {
      val f = v.select(col("vec_id"),
        graft.expressions.SignBitsPacked(col("embedding"), probes).as("bits"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    }
    val keyMask = (1L << rowsPerBand) - 1
    def bandKey(bits: Column, b: Int): Column =
      shiftrightunsigned(bits, b * rowsPerBand).bitwiseAND(lit(keyMask))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(col("bits"), b).as("key"))
    }
    def banded(v: DataFrame) = withBits(v)
      .select(col("vec_id"), col("bits"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bits"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // first-colliding-band dedup, the [[cosinePairsLsh]] trick: one
    // surviving row per cross pair with zero extra exchange
    val firstBandOnly = (1 until bands).foldLeft(
        when(col("band") === 0, lit(true))) { (acc, b) =>
      acc.when(col("band") === b,
        (0 until b).map { p =>
          bandKey(col("a.bits"), p) =!= bandKey(col("b.bits"), p)
        }.reduce(_ && _))
    }
    val cand = banded(srcA).as("a").join(banded(srcB).as("b"),
        Seq("band", "key"))
      .filter(firstBandOnly)
      .select(col("a.vec_id").as("train_id"), col("b.vec_id").as("eval_id"))
    val sa = srcA.select(
      col("vec_id").as("train_id"), col("embedding").as("e1"),
      sqrt(Similarity.norm2(col("embedding"))).as("n1"))
    val sb = srcB.select(
      col("vec_id").as("eval_id"), col("embedding").as("e2"),
      sqrt(Similarity.norm2(col("embedding"))).as("n2"))
    cand.join(sa, "train_id").join(sb, "eval_id")
      .withColumn("cos_raw",
        Similarity.dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos_raw") >= threshold)
      .select(col("train_id"), col("eval_id"),
        round(col("cos_raw"), 4).as("cos"))
  }

  /** Band-sizing plan for [[cosinePairsLsh]] / [[crossCosineLsh]]:
    * the chosen band width, the derived band/bit counts, and the
    * model's predictions so the caller can see WHY the width was
    * picked (and reject the plan if `meetsTarget` is false). */
  final case class LshPlan(
      rowsPerBand: Int,
      bands: Int,
      nBits: Int,
      expectedBucketDepth: Double,
      predictedRandomSurvivorsPerRow: Double,
      meetsTarget: Boolean)

  /** Predicted RANDOM-survivor pair count for banded sign-LSH over a
    * corpus of `n` structureless vectors: pairs with no semantic
    * relation that nevertheless clear the exact-cosine verify after
    * colliding in a band. This is the n²-shaped mass the 1000×
    * rehearsal measured (SCALING.md round-12 fan-out decomposition):
    * true near-dup pairs scale linearly with the corpus, but random
    * pairs number C(n,2), and the sliver of them that survives both
    * gates grows quadratically unless band width rises with the
    * corpus.
    *
    * Model (iid mean-zero vectors — the hash-uniform synthesis, and a
    * conservative stand-in for whitened real embeddings): pairwise
    * cosine is asymptotically N(0, 1/√dim), a band of r sign bits
    * collides with probability (1 − θ/π)^r at angle θ = arccos(c),
    * and a pair survives if its cosine clears `threshold` AND any of
    * the `bands` bands collide (union-bounded). Numerically
    * integrated by trapezoid over c ∈ [threshold, 1]:
    *
    *   E ≈ C(n,2) · ∫ φ(c; 0, 1/√dim) · min(1, B·(1−θ(c)/π)^r) dc
    *
    * Validated against both committed rehearsal points (each at ITS
    * OWN committed band config, measured minus the constructed
    * true-pair mass): 100× (n=200k, 4 bands of 16): predicted 48.9k
    * vs 35,176 measured (1.39×); 1000× (n=2M, 3 bands of 20):
    * predicted 646k vs 447,614 (1.44×) — both conservative, as a
    * planner input should be (the union bound and the
    * just-over-threshold tail both round up).
    * NOT modeled: the true-pair mass (that is the operator's signal,
    * not its overhead) and anisotropy of real embedding spaces (which
    * concentrates cosine ABOVE the iid prediction — treat the
    * estimate as a floor and re-measure when plans are near target). */
  def lshRandomSurvivors(
      n: Long, dim: Int, threshold: Double,
      rowsPerBand: Int, bands: Int): Double = {
    require(n >= 2 && dim >= 1 && bands >= 1 && rowsPerBand >= 1)
    require(threshold > 0 && threshold < 1,
      s"threshold in (0, 1), got $threshold")
    val sigma = 1.0 / math.sqrt(dim.toDouble)
    def integrand(c: Double): Double = {
      val phi = math.exp(-c * c / (2 * sigma * sigma)) /
        (sigma * math.sqrt(2 * math.Pi))
      val pBand = math.pow(1.0 - math.acos(c) / math.Pi, rowsPerBand)
      phi * math.min(1.0, bands * pBand)
    }
    val steps = 2000
    val h = (1.0 - threshold) / steps
    val integral = (0 to steps).map { i =>
      val w = if (i == 0 || i == steps) 0.5 else 1.0
      w * integrand(threshold + i * h)
    }.sum * h
    0.5 * n.toDouble * (n - 1).toDouble * integral
  }

  /** Pick the band width (bits per band) for a corpus: the smallest
    * `rowsPerBand` that holds BOTH the bucket-occupancy rule (mean
    * band-bucket depth n/2^r ≤ `maxBucketDepth` — keeps candidate
    * mass Σ|bucket|² linear; the "~log₂(corpus) bits" scaladoc rule,
    * made executable) and the random-survivor budget
    * ([[lshRandomSurvivors]] ≤ `targetFanoutPerRow` · n). The second
    * gate is what the occupancy rule alone misses at low thresholds
    * (the round-12 1000× finding): depth can be O(1) while verified
    * random pairs still grow ~n²·p_collide. Width is capped at
    * 64/bands (the packed-long fingerprint); if no width inside the
    * cap meets the budget the plan is returned with
    * `meetsTarget = false` and its predictions filled in — the caller
    * decides (raise the threshold, add bands, or accept the fan-out).
    *
    * Reproduces both committed rehearsal band widths from their
    * parameters alone at the default budget (band COUNT stays the
    * caller's recall knob): (200k, 64-dim, 0.4, the committed 4
    * bands) → 16-bit bands (occupancy-bound); (2M, …, 3 bands) →
    * 20-bit bands — where occupancy alone would have stopped at 19
    * (depth 3.8) and the survivor budget (predicted 0.50/row at 19
    * vs 0.32 at 20) is what pushes the width up. That second push is
    * exactly what the "~log₂(corpus) bits" rule misses, which is the
    * point. */
  def lshBandPlan(
      n: Long, dim: Int, threshold: Double,
      bands: Int = 3,
      targetFanoutPerRow: Double = 0.4,
      maxBucketDepth: Double = 4.0): LshPlan = {
    require(bands >= 1 && bands <= 64, s"bands in [1, 64], got $bands")
    val maxR = 64 / bands
    def planAt(r: Int): LshPlan = {
      val depth = n.toDouble / math.pow(2.0, r)
      val perRow = lshRandomSurvivors(n, dim, threshold, r, bands) / n
      LshPlan(r, bands, r * bands, depth, perRow,
        depth <= maxBucketDepth && perRow <= targetFanoutPerRow)
    }
    (1 to maxR).map(planAt).find(_.meetsTarget).getOrElse(planAt(maxR))
  }

  /** Nearest-centroid cell id against literal centroids: argmax of
    * dot(vec, c)/||c|| (ties → lowest c_id, via the (sim, −c_id) struct
    * max). Pure projection — no join, no shuffle. `vecCol` defaults to
    * the full embedding; [[pqEncode]] passes subvector slices. */
  private def nearestCellExpr(
      cents: Seq[(Int, Seq[Float])],
      vecCol: Column = col("embedding")): Column = {
    val entries = cents.map { case (j, v) =>
      struct(
        (Similarity.dot(vecCol, typedlit(v))
          / sqrt(Similarity.norm2(typedlit(v)))).as("sim"),
        lit(-j).as("negc"))
    }
    (-array_max(array(entries: _*)).getField("negc")).cast("int")
  }

  /** Deterministic seeded k-means for the IVF coarse quantizer:
    * init = a hash-ordered uniform sample of nCentroids vectors
    * ([[seedVectors]] — decorrelated from id structure, reproducible by
    * any engine), then `iters` Lloyd rounds of (assign to nearest
    * centroid by cosine) → (centroid := element-wise mean of its cell).
    *
    * Every step is engine-reproducible so the DuckDB oracle re-derives
    * the same centroids bit-for-bit: the mean is an EXACT 1e-6
    * fixed-point sum (`round(v·10⁶)` summed as long — order-independent
    * integer arithmetic, immune to float reduction-order divergence),
    * divided in double and cast back to float. An empty cell keeps its
    * previous centroid. Each round is one Spark job: a literal-centroid
    * argmax projection + posexplode + one (cell, pos) aggregate —
    * shuffle rows = nCentroids × dim, not corpus-sized. */
  def trainIvfCentroids(
      vecs: DataFrame, nCentroids: Int = 8, iters: Int = 2): Seq[(Int, Seq[Float])] =
    cachedModel(vecs, s"ivf:$nCentroids:$iters") {
      trainIvfCentroidsUncached(vecs, nCentroids, iters)
    }

  private def trainIvfCentroidsUncached(
      vecs: DataFrame, nCentroids: Int, iters: Int): Seq[(Int, Seq[Float])] = {
    var cents: Seq[(Int, Seq[Float])] =
      seedVectors(vecs, nCentroids).zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 0 until iters) {
      val sums = vecs
        .select(nearestCellExpr(cents).as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(round(col("v") * lit(1e6)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getAs[Int]("cell"), r.getAs[Int]("pos")),
          (r.getAs[Long]("s"), r.getAs[Long]("n"))))
        .toMap
      cents = cents.map { case (j, old) =>
        (j, old.indices.map { p =>
          sums.get((j, p)) match {
            case Some((s, n)) => (s.toDouble / n.toDouble / 1e6).toFloat
            case None => old(p) // empty cell keeps its centroid
          }
        })
      }
    }
    cents
  }

  /** Product quantization, spherical (cosine) flavor — the embedding
    * COMPRESSION step a 100 TB vector store runs after (or instead of)
    * coarse IVF: the embedding splits into `m` contiguous subvectors,
    * each subspace trains its own k-means codebook of `codebookSize`
    * codewords (reusing [[trainIvfCentroids]] on the sliced frame —
    * same hash-ordered seeding, same exact fixed-point Lloyd rounds,
    * so the DuckDB oracle re-derives every codebook bit-for-bit), and
    * every vector is encoded as its per-subspace nearest-codeword ids.
    * Storage drops from dim × 4 bytes to m × log2(codebookSize) bits.
    *
    * Scale shape: training is m × iters bounded-driver jobs (the IVF
    * argument — driver state is O(m × codebookSize × dim/m) =
    * O(codebookSize × dim) floats); ENCODING is one shuffle-free
    * projection — all m nearest-codeword argmaxes evaluate against
    * broadcast literal codebooks inside the same codegen stage, so a
    * 100 TB corpus encodes embarrassingly parallel with zero exchange.
    *
    * Output: (vec_id, code0 .. code{m-1}), codes in
    * [0, codebookSize). */
  def pqEncode(
      vecs: DataFrame,
      m: Int = 2,
      codebookSize: Int = 4,
      iters: Int = 2): DataFrame = {
    val (sub, books) = pqBooks(vecs, m, codebookSize, iters)
    val codes = books.zipWithIndex.map { case (book, j) =>
      nearestCellExpr(book, slice(col("embedding"), j * sub + 1, sub))
        .cast("long").as(s"code$j")
    }
    vecs.select(col("vec_id") +: codes: _*)
  }

  /** Subvector width + per-subspace codebooks for [[pqEncode]] /
    * [[pqTopK]] — the m subspace k-means trainings FUSED into one
    * corpus pass per Lloyd round (round-5 bench: the three PQ queries
    * were paying m× passes per iteration for work that shares every
    * scan). Bit-identical to m independent [[trainIvfCentroids]] runs
    * over the sliced frames, which remain the reference semantics:
    *
    *  - seeding: [[seedVectors]] picks by hash(vec_id) alone, so the m
    *    per-subspace seed sets are slices of the SAME full vectors —
    *    one collect, sliced driver-side;
    *  - each round: every subspace's literal-codebook argmax evaluates
    *    in the same projection, the full embedding posexplodes once,
    *    and one (subspace, cell, pos) aggregate carries the exact e6
    *    long sums — identical integer totals per cell coordinate, so
    *    the updated codewords are float-for-float the per-subspace
    *    result (pinned by TierXSpec's bit-for-bit oracle re-derivation
    *    and the partition-invariance spec);
    *  - shuffle rows = m × codebookSize × sub = codebookSize × dim per
    *    round — still independent of corpus size.
    *
    * Driver jobs drop from m×(1 seed + iters rounds) to
    * 1 seed + iters rounds — at a production m of 8-16 subspaces this
    * is the difference between ~50 scheduled jobs and ~4 per train. */
  private def pqBooks(
      vecs: DataFrame, m: Int, codebookSize: Int, iters: Int)
      : (Int, Seq[Seq[(Int, Seq[Float])]]) =
    cachedModel(vecs, s"pq:$m:$codebookSize:$iters") {
      pqBooksUncached(vecs, m, codebookSize, iters)
    }

  private def pqBooksUncached(
      vecs: DataFrame, m: Int, codebookSize: Int, iters: Int)
      : (Int, Seq[Seq[(Int, Seq[Float])]]) = {
    require(m >= 1 && codebookSize >= 1 && iters >= 1,
      s"invalid pq params m=$m k=$codebookSize iters=$iters")
    val dim = vecs.select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val sub = dim / m
    val seeds = seedVectors(vecs, codebookSize)
    var books: Seq[Seq[(Int, Seq[Float])]] = (0 until m).map { j =>
      seeds.zipWithIndex.map { case (v, i) =>
        (i, v.slice(j * sub, j * sub + sub))
      }
    }
    val subspaceOf = (col("pos") / lit(sub)).cast("int")
    for (_ <- 0 until iters) {
      val cellCols = books.zipWithIndex.map { case (book, j) =>
        nearestCellExpr(book, slice(col("embedding"), j * sub + 1, sub))
          .as(s"cell$j")
      }
      val sums = vecs
        // the m argmaxes evaluate once per VECTOR (below the generate),
        // not once per exploded element
        .select(cellCols :+ posexplode(col("embedding")).as(Seq("pos", "v")): _*)
        .select(
          subspaceOf.as("j"),
          element_at(
            array((0 until m).map(j => col(s"cell$j")): _*),
            subspaceOf + 1).as("cell"),
          (col("pos") % lit(sub)).as("p"),
          col("v"))
        .groupBy("j", "cell", "p")
        .agg(sum(round(col("v") * lit(1e6)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getAs[Int]("j"), r.getAs[Int]("cell"), r.getAs[Int]("p")),
          (r.getAs[Long]("s"), r.getAs[Long]("n"))))
        .toMap
      books = books.zipWithIndex.map { case (book, j) =>
        book.map { case (c, old) =>
          (c, old.indices.map { p =>
            sums.get((j, c, p)) match {
              case Some((s, n)) => (s.toDouble / n.toDouble / 1e6).toFloat
              case None => old(p) // empty cell keeps its codeword
            }
          })
        }
      }
    }
    (sub, books)
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * SEARCH side of [[pqEncode]]: each query precomputes one inner-
    * product lookup table per subspace (query subvector × every
    * codeword, exact e6 fixed-point longs, computed driver-side over
    * the literal codebooks), and a corpus vector's score is the SUM of
    * its codes' table entries — the classic PQ serving trade:
    * m lookups + adds per corpus row instead of dim multiplies, over
    * codes instead of raw vectors. Scoring is exact long arithmetic,
    * ties → lowest vec_id, so the DuckDB oracle (which re-derives the
    * codebooks bit-for-bit and the same e6 tables) must agree rank for
    * rank. ADC approximates the true inner product through the
    * reconstruction — recall vs [[bruteTopK]] is the accuracy trade
    * PQ makes by design.
    *
    * Scale shape, by batch width: at ≤8 queries each query's tables
    * inline as plan literals (a scoring projection per query — no join
    * at all); past that the per-query union would grow the PLAN itself
    * linearly in nQueries, so a serving-width batch instead materializes
    * all tables as one tiny (q_id, luts) frame and broadcast-joins it
    * against the coded corpus — plan width O(1) in nQueries, one
    * BroadcastNestedLoopJoin whose build side is nQueries rows of
    * m×codebookSize longs. Both paths produce identical rows (the spec
    * pins it); the per-query window rank is the documented
    * [[bruteTopK]] test-scale shape — a serving deployment replaces it
    * with per-query TakeOrdered heaps. Queries follow the
    * `vec_id < nQueries` convention of the other top-k paths. */
  def pqTopK(
      vecs: DataFrame,
      nQueries: Int = 5,
      k: Int = 5,
      m: Int = 2,
      codebookSize: Int = 4,
      iters: Int = 2): DataFrame = {
    val (sub, books) = pqBooks(vecs, m, codebookSize, iters)
    val qs = vecs.filter(col("vec_id") < nQueries)
      .orderBy("vec_id").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val codeCols = books.zipWithIndex.map { case (book, j) =>
      nearestCellExpr(book, slice(col("embedding"), j * sub + 1, sub))
        .as(s"code$j")
    }
    val coded = vecs.select(col("vec_id") +: codeCols: _*)
      .persist() // the scoring pass(es) consume it
    def lutOf(qv: Seq[Float]): Seq[Seq[Long]] = adcLuts(books, sub, qv)
    val scored =
      if (qs.size <= 8) {
        // literal path: one scoring projection per query, LUTs inline
        qs.map { case (qid, qv) =>
          val luts = lutOf(qv).zipWithIndex.map { case (table, j) =>
            element_at(typedlit(table), col(s"code$j") + 1)
          }
          coded.filter(col("vec_id") =!= qid)
            .select(lit(qid).as("q_id"), col("vec_id"),
              luts.reduce(_ + _).as("adc_e6"))
        }.reduce(_.unionByName(_))
      } else {
        // serving width: ONE broadcast-joined LUT table — plan width
        // stays O(1) as the query batch grows
        val spark = vecs.sparkSession
        import spark.implicits._
        val lutDf = qs.map { case (qid, qv) => (qid, lutOf(qv)) }
          .toDF("q_id", "luts")
        coded.crossJoin(broadcast(lutDf))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            (0 until m).map(j =>
              element_at(element_at(col("luts"), j + 1), col(s"code$j") + 1))
              .reduce(_ + _).as("adc_e6"))
      }
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_e6").desc, col("vec_id"))
    scored.withColumn("srank", row_number().over(w).cast("long"))
      .filter(col("srank") <= k)
      .select("q_id", "vec_id", "srank", "adc_e6")
  }

  /** Per-query ADC lookup tables over the literal codebooks: one
    * `codebookSize`-long table per subspace, entry = exact-e6
    * fixed-point inner product of the query subvector with that
    * codeword (half-away-from-zero rounding to match SQL `round()` in
    * both engines). Driver cost is O(m × codebookSize × dim/m) =
    * O(codebookSize × dim) multiplies per query — independent of
    * corpus size. Used by [[pqTopK]] and [[ivfPqTopK]]. */
  private def adcLuts(
      books: Seq[Seq[(Int, Seq[Float])]],
      sub: Int,
      qv: Seq[Float]): Seq[Seq[Long]] = {
    def roundE6(s: Double): Long =
      if (s >= 0) math.floor(s * 1e6 + 0.5).toLong
      else math.ceil(s * 1e6 - 0.5).toLong
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    books.zipWithIndex.map { case (book, j) =>
      val qsub = qv.slice(j * sub, (j + 1) * sub)
      book.sortBy(_._1).map { case (_, cw) => roundE6(dot(qsub, cw)) }
    }
  }

  /** IVF coarse quantizer: assign every vector to its nearest trained
    * centroid cell. Output: (vec_id, cell). */
  def ivfCells(vecs: DataFrame, nCentroids: Int = 8): DataFrame =
    ivfAssignments(vecs, nCentroids).filter(col("c_rank") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))

  /** Per-vector centroid ranking (rank 1 = nearest) against the
    * k-means-trained centroids ([[trainIvfCentroids]]). Cosine against
    * each centroid needs only the centroid norm — the vector's own norm
    * is constant within its argmax. The centroid table is a broadcast
    * constant (nCentroids rows). */
  private def ivfAssignments(vecs: DataFrame, nCentroids: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centroids = trainIvfCentroids(vecs, nCentroids, iters = 2)
      .toDF("c_id", "c_vec")
      .withColumn("c_nrm", sqrt(Similarity.norm2(col("c_vec"))))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("c_sim").desc, col("c_id"))
    // SKINNY output: every consumer persists this frame and reads only
    // (vec_id, c_id, c_rank) — carrying the embedding and centroid
    // arrays through the persist would pay the in-memory columnar
    // store's per-element complex-type codec for nCentroids copies of
    // every vector (the cosinePairsLsh finding, ×8 here)
    vecs.crossJoin(broadcast(centroids))
      .withColumn("c_sim",
        Similarity.dot(col("embedding"), col("c_vec")) / col("c_nrm"))
      .withColumn("c_rank", row_number().over(w))
      .select("vec_id", "c_id", "c_rank")
  }

  /** IVF top-k: search only the nProbe cells nearest to each query
    * vector. At scale the corpus is partitioned by cell (each probe
    * touches |corpus|/nCentroids vectors), while the centroid table is
    * a broadcast constant. Exact recall is bounded by the probe count —
    * the standard IVF trade. */
  def ivfTopK(
      vecs: DataFrame,
      nQueries: Int = 5,
      k: Int = 5,
      nCentroids: Int = 8,
      nProbe: Int = 2): DataFrame = {
    // one persisted assignment pass serves both the corpus cells
    // (rank 1) and the query probes (rank <= nProbe) — the
    // vecs x centroids cross join is the operator's dominant cost
    val assignments = ivfAssignments(vecs, nCentroids)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cells = assignments.filter(col("c_rank") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val corpus = vecs.join(cells, "vec_id")
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val queryProbes = assignments
      .filter(col("vec_id") < nQueries && col("c_rank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm"))
      .join(queryProbes, "q_id")
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_raw").desc, col("vec_id"))
    corpus.join(broadcast(queries), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        Similarity.dot(col("embedding"), col("q_vec"))
          / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("q_id"), col("vec_id"), col("cell"), col("rank"),
        round(col("cos_raw"), 4).as("cos"))
  }

  /** Checkpointed incremental ANN index REFRESH — the serving-side
    * maintenance loop a production pipeline runs after every ingest:
    * the coarse quantizer is trained ONCE on the base corpus and then
    * FROZEN; each arriving delta micro-batch is assigned to the frozen
    * centroids and appended as a new index SEGMENT; the served index
    * is the union of segments. Composes the [[trainIvfCentroids]]
    * quantizer with `x_ingest_incremental`'s checkpointed AvailableNow
    * file stream and `x_incr_agg`'s write-new-generation-then-flip
    * persistence, at segment granularity.
    *
    * Scale shape — why segments, not state rewrite: re-assigning or
    * rewriting the whole index per batch is O(|corpus|) per delta; a
    * segment append is O(|batch|) — the per-batch assignment is a pure
    * literal-centroid argmax PROJECTION ([[nearestCellExpr]] — zero
    * joins, zero shuffles, whole-stage codegen), and the segment write
    * is idempotent under streaming replay (overwrite into a
    * batchId-named dir, the exactly-once pattern checkpoint recovery
    * requires). At 100 TB this is exactly a FAISS/Delta-style
    * index-manifest design: training driver state stays
    * O(nCentroids × dim); nothing corpus-sized ever revisits.
    *
    * Freezing the quantizer is the standard serving trade (drifted
    * deltas degrade cell balance until the next full re-train, which
    * this operator does NOT do — it is the between-retrains increment).
    * The declared query splits `embeddings` into base (vec_id % 5 ≠ 4)
    * and delta (= 4), streams the delta in two checkpointed
    * micro-batches, and returns every vector's (cell, src) — equal by
    * construction to a full re-assign against the same frozen
    * centroids, which is the DuckDB oracle (the equality IS the proof
    * that the incremental path lost nothing and disturbed nothing).
    *
    * Output: (vec_id, cell, src ∈ {base, delta}). */
  def ivfRefreshRun(
      spark: SparkSession,
      sfDir: String,
      nCentroids: Int = 8,
      iters: Int = 2): DataFrame = {
    val vecs = graft.Tables(spark, sfDir, "embeddings")
    val base = vecs.filter(col("vec_id") % 5 =!= 4)
    val delta = vecs.filter(col("vec_id") % 5 === 4)
    val cents = trainIvfCentroids(base, nCentroids, iters)
    def assign(v: DataFrame, src: String): DataFrame = v.select(
      col("vec_id"), nearestCellExpr(cents).as("cell"), lit(src).as("src"))
    // the result is a lazy read of the segments: the work dir lives
    // until JVM exit
    val run = graft.streaming.StreamOps.StagedStream.lasting("graft_ivf_refresh")
    val segs = run.path("segs")
    // segment 0: the base build (the last full re-train's output)
    assign(base, "base").write.mode("overwrite").parquet(s"$segs/seg_base")
    // the delta lands as two files → two checkpointed micro-batches
    run.stage(Seq(
      delta.filter(col("vec_id") % 2 === 0),
      delta.filter(col("vec_id") % 2 =!= 0)))
    run.drain(spark) { (batch, batchId) =>
      // overwrite into a batchId-named segment dir: a replayed batch
      // after checkpoint recovery rewrites the same segment instead
      // of duplicating rows (the x_incr_agg generation idempotence)
      assign(batch, "delta")
        .write.mode("overwrite").parquet(s"$segs/seg_delta_$batchId")
    }
    val segPaths = new java.io.File(segs).listFiles()
      .filter(_.isDirectory).map(_.toString).sorted.toSeq
    spark.read.parquet(segPaths: _*)
  }

  /** Batch core of [[ivfRefreshRun]] for the scale rehearsal: same
    * frozen-quantizer train-on-base + per-delta-batch literal-argmax
    * assignment, without the file-stream staging (the streaming
    * machinery is fixed-cost; the scale axes are the training
    * aggregate and the assignment projection). */
  def ivfRefreshAssign(
      base: DataFrame,
      deltas: Seq[DataFrame],
      nCentroids: Int = 8,
      iters: Int = 2): DataFrame = {
    val cents = trainIvfCentroids(base, nCentroids, iters)
    def assign(v: DataFrame, src: String): DataFrame = v.select(
      col("vec_id"), nearestCellExpr(cents).as("cell"), lit(src).as("src"))
    deltas.zipWithIndex
      .map { case (d, _) => assign(d, "delta") }
      .foldLeft(assign(base, "base"))(_.unionByName(_))
  }

  /** IVF+PQ composed search — the canonical large-corpus ANN serving
    * architecture (FAISS's IVFPQ index shape, Jégou et al. TPAMI'11):
    * the coarse quantizer prunes each query's candidate set to its
    * `nProbe` nearest cells, and ADC scores ONLY those candidates from
    * their compact PQ codes. At 100 TB the corpus is stored
    * cell-partitioned as codes (m × log2(codebookSize) bits per vector
    * instead of dim × 32), so one query reads ~nProbe/nCentroids of the
    * index and never touches a raw vector at serving time.
    *
    * Pure composition of the verified pieces: [[trainIvfCentroids]]
    * (coarse cells, via ivfAssignments), [[pqBooks]] +
    * [[nearestCellExpr]] (codes), [[adcLuts]] (exact-e6 query tables).
    * Candidate generation is a broadcast EQUI-join of the coded corpus
    * against the (q_id, cell) probe list — never a cross join, and the
    * same plan shape works at any query-batch width (the probe list and
    * LUT table are both O(nQueries) broadcasts). Scoring is exact long
    * arithmetic, ties → lowest vec_id, so the DuckDB oracle re-derives
    * every rank.
    *
    * Recall stacks the two approximations by design: the IVF probe
    * bound (a true neighbor outside the probed cells is unseeable) on
    * top of PQ reconstruction error — the standard trade for a
    * 1000×-smaller serving footprint.
    *
    * Output: (q_id, vec_id, cell, srank, adc_e6). */
  def ivfPqTopK(
      vecs: DataFrame,
      nQueries: Int = 5,
      k: Int = 5,
      nCentroids: Int = 8,
      nProbe: Int = 2,
      m: Int = 2,
      codebookSize: Int = 16,
      iters: Int = 2): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // one assignment pass serves corpus cells (rank 1) and query probes
    val assignments = ivfAssignments(vecs, nCentroids)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cells = assignments.filter(col("c_rank") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val (sub, books) = pqBooks(vecs, m, codebookSize, iters)
    val codeCols = books.zipWithIndex.map { case (book, j) =>
      nearestCellExpr(book, slice(col("embedding"), j * sub + 1, sub))
        .as(s"code$j")
    }
    // the serving-time index: (vec_id, cell, code0..code{m-1})
    val coded = vecs.select(col("vec_id") +: codeCols: _*)
      .join(cells, "vec_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val qs = vecs.filter(col("vec_id") < nQueries)
      .orderBy("vec_id").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val probeDf = assignments
      .filter(col("vec_id") < nQueries && col("c_rank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val lutDf = qs.map { case (qid, qv) => (qid, adcLuts(books, sub, qv)) }
      .toDF("q_id", "luts")
    val scored = coded.join(broadcast(probeDf), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(lutDf), "q_id")
      .select(col("q_id"), col("vec_id"), col("cell"),
        (0 until m).map(j =>
          element_at(element_at(col("luts"), j + 1), col(s"code$j") + 1))
          .reduce(_ + _).as("adc_e6"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_e6").desc, col("vec_id"))
    scored.withColumn("srank", row_number().over(w).cast("long"))
      .filter(col("srank") <= k)
      .select("q_id", "vec_id", "cell", "srank", "adc_e6")
  }

  /** Recall-vs-cost curve for the composed IVF+PQ serving index — the
    * tunable health report an index operator reads before picking
    * nProbe: the SAME index (one trained coarse quantizer, one set of
    * PQ codebooks, one coded corpus — all nProbe-independent, so the
    * cached-model reuse of [[ivfPqTopK]] applies) is probed at each
    * requested probe count and graded against the EXACT cosine top-k
    * ground truth ([[bruteTopK]] — test-scale baseline; at corpus
    * scale substitute a held-out labelled query set).
    *
    * Output, one row per probe count, ordered by n_probe:
    *   - `n_cand`  — ADC-scored candidates across all queries: the
    *     COST axis (≈ nProbe/nCentroids of the corpus per query,
    *     independent of corpus size);
    *   - `n_hits`  — ADC top-k results that are true exact-cosine
    *     top-k neighbors;
    *   - `recall`  — n_hits / (nQueries · k), rounded 4.
    *
    * The per-probe grading is ONE left equi-join + one aggregate (no
    * 1-row cross-joins beyond those inherited from the index build).
    *
    * Shared-frame contract: the assignment, coded-corpus, and
    * exact-ground-truth frames are EAGERLY lineage-truncated
    * ([[graft.operators.Lineage.truncate]]) because every probe grade
    * reads all three AND the grades union into one plan — under AQE
    * the branch stages launch concurrently and a lazily persisted
    * frame's cold cache is raced: each racer recomputes the whole
    * subtree (the x_dedup_cluster shingle-frame fix of round 15,
    * b57ebff, measured the same pathology). Truncation materializes
    * each frame exactly once, at construction. */
  def ivfPqRecallCurve(
      vecs: DataFrame,
      probes: Seq[Int] = Seq(1, 2, 4),
      nQueries: Int = 5,
      k: Int = 5,
      nCentroids: Int = 8,
      m: Int = 2,
      codebookSize: Int = 16,
      iters: Int = 2): DataFrame = {
    require(probes.nonEmpty && probes == probes.sorted &&
      probes.forall(p => p >= 1 && p <= nCentroids),
      s"probes must be ascending within [1, $nCentroids], got $probes")
    val spark = vecs.sparkSession
    import spark.implicits._
    val assignments = Lineage.truncate(ivfAssignments(vecs, nCentroids))
    val cells = assignments.filter(col("c_rank") === 1)
      .select(col("vec_id"), col("c_id").as("cell"))
    val (sub, books) = pqBooks(vecs, m, codebookSize, iters)
    val codeCols = books.zipWithIndex.map { case (book, j) =>
      nearestCellExpr(book, slice(col("embedding"), j * sub + 1, sub))
        .as(s"code$j")
    }
    val coded = Lineage.truncate(
      vecs.select(col("vec_id") +: codeCols: _*)
        .join(cells, "vec_id"))
    val qs = vecs.filter(col("vec_id") < nQueries)
      .orderBy("vec_id").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val lutDf = qs.map { case (qid, qv) => (qid, adcLuts(books, sub, qv)) }
      .toDF("q_id", "luts")
    // exact ground truth once, shared by every probe grade
    val exact = Lineage.truncate(
      bruteTopK(vecs, nQueries, k)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_e6").desc, col("vec_id"))
    val rows = probes.map { np =>
      val probeDf = assignments
        .filter(col("vec_id") < nQueries && col("c_rank") <= np)
        .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
      val scored = coded.join(broadcast(probeDf), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(lutDf), "q_id")
        .select(col("q_id"), col("vec_id"),
          (0 until m).map(j =>
            element_at(element_at(col("luts"), j + 1), col(s"code$j") + 1))
            .reduce(_ + _).as("adc_e6"))
      scored.withColumn("srank", row_number().over(w))
        .join(exact, Seq("q_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_cand"),
          coalesce(sum(when(col("srank") <= k && col("hit").isNotNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_hits"))
        .select(lit(np).as("n_probe"), col("n_cand"), col("n_hits"))
    }
    rows.reduce(_ unionByName _)
      .select(col("n_probe"), col("n_cand"), col("n_hits"),
        round(col("n_hits").cast("double") / (nQueries.toLong * k), 4)
          .as("recall"))
      .orderBy("n_probe")
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR'98)
    * — the diversity-aware selection a retrieval/curation pipeline runs
    * AFTER similarity search: from each query's top-`nCand` candidate
    * pool, greedily pick `k` results maximizing
    * λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s) with λ = 1/2, so two
    * near-duplicate neighbors never both make the cut.
    *
    * Everything is exact integer arithmetic after one rounding point:
    * relevance and candidate-pair cosines land on the 1e-6 fixed-point
    * grid (`rel_e6`, `sim_e6` — the [[pqTopK]] ADC convention), and
    * λ = 1/2 cancels into `score = rel_e6 − pen_e6` (argmax invariant
    * under the ×2), so the greedy argmax chain — ties broken by lowest
    * vec_id — replays bit-for-bit in any engine; the DuckDB oracle
    * unrolls the same k steps as CTEs (the BPE-oracle pattern).
    *
    * Scale shape: the candidate pool is BOUNDED (nCand per query) by
    * the upstream search — here the [[bruteTopK]] cross-join baseline
    * at test scale; a production corpus feeds [[ivfPqTopK]]/[[lshTopK]]
    * candidates instead — so the pairwise sim table is nCand² per
    * query via a q_id equi-join, and each greedy step is a left-anti +
    * equi-join + window over frames of ≤ nQueries·nCand rows. The k
    * steps chain lazily off two checkpointed leaves ([[GraphRank]]'s
    * ReusedExchange reasoning).
    *
    * Output: (q_id, sel_rank, vec_id, rel_e6, score_e6), sel_rank
    * 1..k in greedy pick order. */
  def mmrRerank(
      vecs: DataFrame,
      nQueries: Int = 5,
      nCand: Int = 20,
      k: Int = 5): DataFrame = {
    require(k >= 1 && nCand >= k,
      s"mmrRerank: need nCand >= k >= 1, got k=$k nCand=$nCand")
    val corpus = withNorm(vecs, "vec_id", "embedding")
    val queries = withNorm(vecs.filter(col("vec_id") < nQueries), "q_id", "q_vec")
    val wRel = Window.partitionBy("q_id")
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val cand = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        Similarity.dot(col("embedding"), col("q_vec"))
          / (col("vec_id_nrm") * col("q_id_nrm")))
      .withColumn("rnk", row_number().over(wRel))
      .filter(col("rnk") <= nCand)
      .select(col("q_id"), col("vec_id"),
        round(col("cos_raw") * 1e6).cast("long").as("rel_e6"),
        col("embedding"), col("vec_id_nrm"))
    mmrGreedy(cand, k)
  }

  /** MMR rerank over a SERVING-shaped candidate pool — the production
    * composition the [[mmrRerank]] scaladoc promises: candidates come
    * from the [[ivfPqTopK]] index (coarse IVF probe + compact-code ADC
    * scoring — never a corpus cross-join), their relevance is then
    * RE-SCORED with the exact query cosine from the raw vectors (the
    * standard ANN refine step: the pool is nCand-bounded, so exact
    * re-scoring costs nQueries × nCand dot products), and the greedy
    * diversity selection runs over that pool exactly as in
    * [[mmrRerank]]. Exact re-scoring also puts relevance and the
    * pairwise penalty on the same cosine-e6 grid — raw ADC inner
    * products would dwarf the ±1e6 penalty term and neuter λ.
    *
    * Everything downstream of the pool is the same exact-integer
    * greedy chain, so the DuckDB oracle composes the IVF+PQ CTEs with
    * the k unrolled MMR step CTEs and must agree bit-for-bit.
    *
    * Output: (q_id, sel_rank, vec_id, rel_e6, score_e6), sel_rank 1..k
    * in greedy pick order. */
  def mmrServing(
      vecs: DataFrame,
      nQueries: Int = 5,
      nCand: Int = 20,
      k: Int = 5,
      nCentroids: Int = 8,
      nProbe: Int = 2,
      m: Int = 2,
      codebookSize: Int = 16,
      iters: Int = 2): DataFrame = {
    require(k >= 1 && nCand >= k,
      s"mmrServing: need nCand >= k >= 1, got k=$k nCand=$nCand")
    val pool = ivfPqTopK(vecs, nQueries, nCand, nCentroids, nProbe,
      m, codebookSize, iters).select(col("q_id"), col("vec_id"))
    val corpus = withNorm(vecs, "vec_id", "embedding")
    val queries = withNorm(vecs.filter(col("vec_id") < nQueries), "q_id", "q_vec")
    // exact refine: pool ⋈ raw vectors (equi-joins — the pool is
    // nQueries×nCand rows, the query side a broadcast)
    val cand = pool
      .join(corpus, "vec_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(Similarity.dot(col("embedding"), col("q_vec"))
          / (col("vec_id_nrm") * col("q_id_nrm")) * 1e6)
          .cast("long").as("rel_e6"),
        col("embedding"), col("vec_id_nrm"))
    mmrGreedy(cand, k)
  }

  /** One greedy MMR pick. PUBLIC (not `private`) deliberately: Spark
    * serializes the UDF's Seq[MmrPick] result through a codegen'd
    * Invoke on each accessor, and scalac emits a `private` nested case
    * class as JVM package-private — Janino's generated class (no
    * package, separate loader) then fails resolution ("no applicable
    * method ... rel_e6()") and every execution silently pays the
    * interpreted-serializer fallback. */
  case class MmrPick(
      sel_rank: Long, vec_id: Long, rel_e6: Long, score_e6: Long)

  /** The shared greedy MMR selection over a bounded candidate pool
    * `cand` (q_id, vec_id, rel_e6, embedding, vec_id_nrm) — see
    * [[mmrRerank]] for the semantics and exactness argument.
    *
    * Shape (round 11, replacing the k−1 chained step jobs): greedy MMR
    * is inherently SEQUENTIAL per query but independent ACROSS queries,
    * so the right distribution axis is q_id, not the step index. The
    * pairwise sims are still computed as one Spark join (the rounding
    * to the 1e-6 grid happens in the same Catalyst expressions as
    * before — bit-identical inputs to the greedy), then each query's
    * pool collapses to ONE grouped row (≤ nCand rel entries + nCand²
    * sims — bounded by construction, corpus size never enters) and the
    * k-step argmax chain runs row-locally in a UDF: one shuffle on
    * q_id replaces k−1 sequential jobs of left-anti + equi-joins +
    * window each (measured 4.15 s → sub-second for x_mmr_serving at
    * sf0.1; every scheduling round-trip was pure overhead). All greedy
    * arithmetic is exact long math on the already-rounded grid
    * (score = rel_e6 − max sim_e6, ties by lowest vec_id), so the
    * DuckDB oracle's unrolled step CTEs still agree bit-for-bit. */
  private def mmrGreedy(candRaw: DataFrame, k: Int): DataFrame = {
    val spark = candRaw.sparkSession
    import spark.implicits._
    val cand = Lineage.truncate(candRaw)
    // pairwise candidate sims, nCand² per query by construction — the
    // SAME expressions as the pre-round-11 form (exactness anchor)
    val pairSim = cand.as("a").join(cand.as("b"), Seq("q_id"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("q_id"),
        col("a.vec_id").as("c1"), col("b.vec_id").as("c2"),
        round(Similarity.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.vec_id_nrm") * col("b.vec_id_nrm")) * 1e6)
          .cast("long").as("sim_e6"))
    val cands = cand.select("q_id", "vec_id", "rel_e6")
      .groupBy("q_id")
      .agg(collect_list(struct(col("vec_id"), col("rel_e6"))).as("cands"))
    val sims = pairSim.groupBy("q_id")
      .agg(collect_list(struct(col("c1"), col("c2"), col("sim_e6")))
        .as("sims"))
    val pick = udf((cs: Seq[Row], ss: Seq[Row]) => {
      val ids = cs.map(_.getLong(0)).toArray
      val rels = cs.map(_.getLong(1)).toArray
      val n = ids.length
      val idx = ids.zipWithIndex.toMap
      // sim matrix over pool indices; Long.MinValue = "no sim row"
      // (unreachable for distinct pool members — all pairs exist)
      val sim = Array.fill(n * n)(Long.MinValue)
      Option(ss).getOrElse(Seq.empty).foreach { r =>
        (idx.get(r.getLong(0)), idx.get(r.getLong(1))) match {
          case (Some(i), Some(j)) => sim(i * n + j) = r.getLong(2)
          case _ => ()
        }
      }
      var nSelected = 0
      val isSel = new Array[Boolean](math.max(n, 1))
      // per-candidate running max-sim-to-selected, updated once per new
      // selection: the greedy is O(n·k) instead of rescanning the
      // selected set per candidate per step (O(n·k²)). MinValue means
      // "nothing selected yet" → pure-relevance score at step 1.
      val pen = Array.fill(math.max(n, 1))(Long.MinValue)
      val out = new scala.collection.mutable.ArrayBuffer[MmrPick](k)
      var step = 1
      while (step <= k && nSelected < n) {
        var best = -1
        var bestScore = 0L
        var i = 0
        while (i < n) {
          if (!isSel(i)) {
            // step 1: pure relevance; later: rel − max sim to selected
            val score =
              if (pen(i) == Long.MinValue) rels(i) else rels(i) - pen(i)
            if (best < 0 || score > bestScore ||
                (score == bestScore && ids(i) < ids(best))) {
              best = i; bestScore = score
            }
          }
          i += 1
        }
        isSel(best) = true
        nSelected += 1
        var j = 0
        while (j < n) {
          if (!isSel(j)) {
            val v = sim(j * n + best)
            // a missing (candidate, selected) sim would leave the
            // penalty at the sentinel and the subtraction would wrap —
            // the pool is distinct by construction so every pair
            // exists; fail loudly if that invariant is ever violated
            require(v != Long.MinValue,
              s"mmrGreedy: no pairwise sim for candidate ${ids(j)} " +
                "against the selected set (duplicate vec_id in pool?)")
            if (v > pen(j)) pen(j) = v
          }
          j += 1
        }
        out += MmrPick(step.toLong, ids(best), rels(best), bestScore)
        step += 1
      }
      out.toSeq
    })
    cands.join(sims, Seq("q_id"), "left")
      .select(col("q_id"),
        explode(pick(col("cands"), col("sims"))).as("p"))
      .select(col("q_id"), col("p.sel_rank").as("sel_rank"),
        col("p.vec_id").as("vec_id"), col("p.rel_e6").as("rel_e6"),
        col("p.score_e6").as("score_e6"))
  }

  /** LSH-bucketed top-k: like [[bruteTopK]] but candidates come from
    * the query's bucket neighborhood, not a full scan.
    *
    * `probeHamming` controls multi-probe: 0 searches only the query's
    * own bucket (the round-1 form — recall falls off a cliff for
    * queries near a hyperplane, where true neighbors land one flipped
    * sign bit away); 1 additionally probes every Hamming-1 neighbor
    * bucket (nProbes+1 buckets total), the standard multi-probe LSH
    * recall fix at the cost of a (nProbes+1)× larger — still
    * bucket-local — candidate set. Probe keys are distinct by
    * construction, so no candidate dedup is needed: each corpus vector
    * lives in exactly one bucket. */
  def lshTopK(
      vecs: DataFrame,
      nQueries: Int = 5,
      k: Int = 5,
      nProbes: Int = 4,
      probeHamming: Int = 1): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1,
      "lshTopK: probeHamming must be 0 (own bucket) or 1 (multi-probe)")
    val withBuckets = vecs.join(lshBuckets(vecs, nProbes), "vec_id")
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
      .persist(StorageLevel.MEMORY_AND_DISK) // read by query + candidate sides
    // own bucket + (optionally) each single-bit flip of it
    val flips: Seq[Column] = (0 until nProbes).map { i =>
      concat(
        substring(col("bucket"), 1, i),
        when(substring(col("bucket"), i + 1, 1) === "1", lit("0"))
          .otherwise(lit("1")),
        substring(col("bucket"), i + 2, nProbes - i - 1))
    }
    val probeKeys =
      if (probeHamming == 0) array(col("bucket"))
      else array((col("bucket") +: flips): _*)
    val queries = withBuckets.filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm"), explode(probeKeys).as("bucket"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_raw").desc, col("vec_id"))
    withBuckets.join(broadcast(queries), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        Similarity.dot(col("embedding"), col("q_vec"))
          / (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(
        col("q_id"), col("vec_id"), col("bucket"), col("rank"),
        round(col("cos_raw"), 4).as("cos"))
  }
}
