package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws over generated inputs (SURVEY.md §5.3). Sizes are kept
  * small — the laws are about operator semantics, not volume. Raw
  * ScalaCheck generators drawn over a fixed seed sequence (the
  * scalatest-scalacheck bridge is not in the offline dep cache). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val cases = 10

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until cases).foreach { i =>
      g.apply(Gen.Parameters.default.withSize(40), Seed(i.toLong))
        .foreach(f)
    }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(ab => f(ab._1, ab._2))

  private def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  private val rows: Gen[List[(Long, String)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.oneOf("a", "b", "c", "d")))

  test("dropDuplicates is idempotent") {
    forAll(rows) { xs =>
      val df = xs.toDF("k", "v")
      val once = df.dropDuplicates()
      assert(once.count() == once.dropDuplicates().count())
    }
  }

  test("union-dedup is commutative") {
    forAll(rows, rows) { (xs, ys) =>
      val a = xs.toDF("k", "v")
      val b = ys.toDF("k", "v")
      val ab = a.unionByName(b).dropDuplicates().collect().toSet
      val ba = b.unionByName(a).dropDuplicates().collect().toSet
      assert(ab == ba)
    }
  }

  test("dense surrogate keys are 0..n-1 and unique") {
    forAll(rows) { xs =>
      whenever(xs.nonEmpty) {
        val df = xs.toDF("k", "v").select("v").dropDuplicates()
          .withColumn("id",
            (row_number().over(Window.orderBy("v")) - 1).cast("long"))
        val ids = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
        assert(ids == (0L until ids.length).toSeq)
      }
    }
  }

  test("inner equi-join cardinality = sum over keys of countA*countB") {
    forAll(rows, rows) { (xs, ys) =>
      val a = xs.toDF("k", "va")
      val b = ys.toDF("k", "vb")
      val joined = a.join(b, "k").count()
      val ca = xs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val cb = ys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val expected = ca.keySet.intersect(cb.keySet)
        .toSeq.map(k => ca(k) * cb(k)).sum
      assert(joined == expected)
    }
  }

  test("per-group window top-k is a subset of global sort") {
    forAll(rows) { xs =>
      val df = xs.toDF("k", "v")
      val w = Window.partitionBy("v").orderBy(col("k").desc, col("v"))
      val topk = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2).select("k", "v").collect().toSet
      val all = df.collect().toSet
      assert(topk.subsetOf(all))
    }
  }

  test("moneySum is invariant under repartitioning") {
    forAll(Gen.listOf(Gen.chooseNum(0d, 100000d))) { xs =>
      whenever(xs.nonEmpty) {
        val df = xs.toDF("x")
        def total(parts: Int): Double = df.repartition(parts)
          .agg(Conventions.moneySum(col("x"))).collect().head.getDouble(0)
        assert(total(1) == total(7))
      }
    }
  }

  private val docGen: Gen[List[(Long, String)]] =
    Gen.listOf(Gen.zip(
      Gen.chooseNum(0L, 30L),
      Gen.nonEmptyListOf(Gen.oneOf("w1", "w2", "w3", "w4", "w5"))
        .map(_.mkString(" "))))
    .map(_.groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toList)

  private def toDocs(xs: List[(Long, String)]) =
    xs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("non-overlapping chunks reconstruct every document exactly") {
    import graft.operators.TextAnalysis
    forAll(docGen) { xs =>
      whenever(xs.nonEmpty) {
        val docs = toDocs(xs)
        // stride == maxTokens -> disjoint cover, in chunk_id order
        val rebuilt = TextAnalysis.chunkSplit(docs, maxTokens = 4, stride = 4)
          .groupBy("doc_id")
          .agg(concat_ws(" ",
            array_sort(collect_list(struct(col("chunk_id"), col("chunk_text"))))
              .getField("chunk_text")).as("text"))
        val orig = docs.select("doc_id", "text")
        assert(rebuilt.exceptAll(orig).count() == 0)
        assert(orig.exceptAll(rebuilt).count() == 0)
      }
    }
  }

  test("cluster labels are a partition refinement fixpoint") {
    import graft.operators.Dedup
    val pairGen: Gen[List[(Long, Long)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 12L)))
        .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
          .distinct)
    forAll(pairGen) { ps =>
      whenever(ps.nonEmpty) {
        val pairs = ps.toDF("d1", "d2")
        val cl = Dedup.clusters(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // fixpoint: every edge endpoint pair shares a label, and each
        // label is the min doc_id of its member set
        ps.foreach { case (a, b) => assert(cl(a) == cl(b)) }
        cl.groupBy(_._2).foreach { case (rep, members) =>
          assert(members.keys.min == rep)
        }
        // the O(log n) star algorithm computes the identical partition
        val star = Dedup.clustersStar(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(star == cl)
      }
    }
  }

  test("winnowing guarantee: docs sharing a w+k-1 token run share a fingerprint") {
    import graft.operators.TextAnalysis
    // Schleimer et al. theorem 1: any match of length >= w + k - 1
    // tokens is caught. Generate a random shared run of exactly that
    // length and embed it at random offsets inside two otherwise
    // independent random documents.
    val tok = Gen.oneOf((0 until 30).map(i => s"t$i"))
    val docGen = Gen.zip(
      Gen.listOfN(6, tok),                // the shared run (w+k-1 = 6)
      Gen.listOfN(8, tok), Gen.listOfN(8, tok),  // doc 1 prefix/suffix
      Gen.listOfN(8, tok), Gen.listOfN(8, tok))  // doc 2 prefix/suffix
    forAll(docGen) { case (run, p1, s1, p2, s2) =>
      val d1 = (p1 ++ run ++ s1).mkString(" ")
      val d2 = (p2 ++ run ++ s2).mkString(" ")
      val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      val fps = TextAnalysis.winnow(docs, k = 3, w = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
      val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
      assert(f1.intersect(f2).nonEmpty,
        s"guarantee violated for run=${run.mkString(" ")}")
    }
  }

  test("fuzzy best-match jacc is reflexive-max: a name always matches itself at 1.0") {
    import graft.operators.FuzzyMatch
    val name = Gen.listOfN(6, Gen.alphaUpperChar).map(_.mkString)
    forAll(Gen.listOfN(5, name)) { names =>
      whenever(names.distinct.size == names.size) {
        val rows = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        val l = rows.toDF("l_id", "l_name")
        val r = rows.toDF("r_id", "r_name")
        val m = FuzzyMatch.bestMatch(l, r, "l_id", "l_name",
          "r_id", "r_name", k = 2, threshold = 0.1)
        // self scores 1.0, so every left row's winner must score 1.0
        // (identical-gram-set doppelgangers can tie, but never beat it)
        val got = m.collect()
          .map(x => x.getLong(0) -> (x.getLong(2), x.getDouble(4))).toMap
        names.indices.foreach { i =>
          assert(got(i.toLong)._2 == 1.0, s"best for $i not 1.0: $got")
        }
      }
    }
  }

  test("cluster convergence probes cost two executions per round") {
    import graft.operators.Dedup
    // {(1,2),(3,4)} converges in exactly ONE round for both algorithms,
    // so the action budget is fully determined: 2 setup actions
    // (edge materialization + initial labels/count) + 2 per round
    // (round checkpoint + the SINGLE fused convergence probe) + 1 for
    // the final count() here. The separate count()+exceptAll().count()
    // probe this replaced costs 3 per round and would land at 6.
    // Counted: Dataset-level executions (actions); AQE sub-stages and
    // checkpoint RDD jobs don't count.
    def executionsDuring(body: => Unit) = Capture.during(spark)(body)._2.executions.size
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("d1", "d2")
    val starActs = executionsDuring {
      assert(Dedup.clustersStar(pairs).count() > 0)
    }
    assert(starActs <= 5, s"clustersStar ran $starActs actions, expected <= 5")
    val hashMinActs = executionsDuring {
      assert(Dedup.clusters(pairs).count() > 0)
    }
    assert(hashMinActs <= 5, s"clusters ran $hashMinActs actions, expected <= 5")
  }
}
