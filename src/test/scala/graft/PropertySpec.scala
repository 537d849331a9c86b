package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.{Exact, PairMining, TopK}

/** Property-based specs (SURVEY.md §5.2 item 4) — the invariants that bit
  * the reference's semantics, checked over generated inputs. ScalaCheck
  * drives Spark jobs, so case counts are kept small but the data shapes
  * are adversarial (ties, duplicate line ids, hot keys, random partition
  * counts). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(8)
  private def holds(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  test("dense ranks are 1-based, gap-free, bounded by k (under heavy ties)") {
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("g1", "g2", "g3"), Gen.choose(1, 4), Gen.choose(0, 999)))
    holds(Prop.forAll(gen) { rows =>
      rows.isEmpty || {
        val df = rows.map { case (g, v, id) => (g, v.toDouble, id) }.toDF("grp", "v", "id")
        val ranked = TopK.perGroupDense(df, Seq(col("grp")),
          Seq(desc("v"), col("id")), 3)
        val byGroup = ranked.collect().groupBy(_.getString(0))
        byGroup.values.forall { rs =>
          val ranks = rs.map(_.getAs[Long]("rnk")).sorted
          ranks.head == 1L && ranks.last <= 3L &&
            ranks.distinct.zipWithIndex.forall { case (r, i) => r == i + 1 }
        }
      }
    })
  }

  test("large-star/small-star components == label-propagation components (adversarial graphs)") {
    // Two independent implementations of the same contract — the
    // O(diameter) propagation (oracle-proven via x20) and the O(log n)
    // star algorithm — must produce identical (v, label) relations.
    // Deterministic adversarial set rather than a ScalaCheck sweep: each
    // case costs two iterative Spark fixpoints, and these four shapes
    // cover the failure modes (a chain is the propagation worst case and
    // exercises the most star rounds; the clique the densest; reversed
    // ids break any ordering assumption; the mixed graph has singleton
    // pairs, a triangle, and shared-min collisions).
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      (1L to 11L).map(i => (i - 1, i)),                    // 12-vertex chain, ascending
      (1L to 11L).map(i => (i, i - 1)),                    // same chain, reversed ids
      (for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)), // 5-clique
      Seq((10L, 3L), (3L, 7L), (7L, 10L), (20L, 21L), (30L, 25L), (2L, 9L)),
      Seq((42L, 42L), (1L, 2L), (5L, 5L))) // self-pair-only vertices keep self-labels
    def toMap(labels: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { pairs =>
      val df = pairs.toDF("id_a", "id_b")
      val prop = toMap(graft.ext.Dedup.connectedComponents(df, "id_a", "id_b"))
      val star = toMap(graft.ext.Dedup.connectedComponentsStar(df, "id_a", "id_b"))
      graft.ext.ExtCaches.clearCaches()
      assert(prop == star, s"pairs=$pairs\nprop=$prop\nstar=$star")
    }
  }

  test("pair mining: canonical order, exact cross-label pair count per basket") {
    val gen = Gen.listOfN(30,
      Gen.zip(Gen.choose(1L, 5L), Gen.choose(1, 3), Gen.oneOf("a", "b", "c")))
    holds(Prop.forAll(gen) { rows =>
      rows.isEmpty || {
        val df = rows.map { case (bk, ln, lab) => (bk, ln, lab) }.toDF("bk", "ln", "lab")
        val pairs = PairMining.coOccurrence(df, "bk", "ln", "lab").collect()
        val expected = rows.groupBy(_._1).values.map { basket =>
          val n = basket.size.toLong
          val sameLabel = basket.groupBy(_._3).values
            .map(g => g.size.toLong * (g.size - 1) / 2).sum
          n * (n - 1) / 2 - sameLabel
        }.sum
        pairs.forall(r => r.getString(0) < r.getString(1)) &&
          pairs.map(_.getLong(2)).sum == expected
      }
    })
  }

  test("exact money sums are invariant to partition count") {
    val gen = Gen.zip(Gen.listOfN(200, Gen.choose(0, 99999)), Gen.choose(1, 16))
    holds(Prop.forAll(gen) { case (cents, parts) =>
      cents.isEmpty || {
        val vals = cents.map(_ / 100.0)
        val expected = cents.map(_.toLong).sum / 100.0
        val got = vals.toDF("v").repartition(parts)
          .agg(Exact.sumMoneyD(col("v"))).head().getDouble(0)
        got == expected
      }
    })
  }

  test("simhash is invariant under token permutation; hamming is symmetric") {
    val gen = Gen.zip(
      Gen.listOfN(12, Gen.oneOf("spark", "flink", "duck", "row", "col")),
      Gen.choose(0L, Long.MaxValue))
    holds(Prop.forAll(gen) { case (toks, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(toks)
      val df = Seq((toks, shuffled)).toDF("a", "b")
      val r = df.select(
        graft.ext.Dedup.simhash(col("a")).as("ha"),
        graft.ext.Dedup.simhash(col("b")).as("hb")).head()
      r.getLong(0) == r.getLong(1)
    })
  }

  test("quantized cosine stays in [-1, 1] (+ rounding headroom)") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-2.0f, 2.0f))
    holds(Prop.forAll(Gen.zip(vecGen, vecGen)) { case (a, b) =>
      (a.forall(_ == 0f) || b.forall(_ == 0f)) || {
        val df = Seq((0L, a.toArray), (1L, b.toArray)).toDF("vec_id", "embedding")
        val pairs = graft.ext.Similarity
          .cosineAllPairsExact(df, "vec_id", "embedding", -2.0).collect()
        // quantization can overshoot |1| by at most ~d·ulp; allow 1e-6
        pairs.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-6)
      }
    })
  }

  test("heavy hitters: every item above the n/(k+1) threshold is reported") {
    val gen = Gen.listOfN(300, Gen.frequency(
      5 -> Gen.const("hot"), 2 -> Gen.const("warm"),
      1 -> Gen.oneOf((1 to 50).map("cold" + _))))
    holds(Prop.forAll(gen) { items =>
      items.isEmpty || {
        val k = 4
        val n = items.size
        val freq = items.groupBy(identity).map { case (i, xs) => i -> xs.size }
        val mustReport = freq.filter(_._2 > n / (k + 1)).keySet
        val reported = Seq(items).toDF("items")
          .select(explode(col("items")).as("item"))
          .agg(org.apache.spark.sql.graftfn.HeavyHitters.of(col("item"), k).as("hh"))
          .head().getSeq[org.apache.spark.sql.Row](0)
          .map(_.getString(0)).toSet
        mustReport.subsetOf(reported)
      }
    })
  }

  test("heavy_hitters is callable from SQL and bounded by k") {
    org.apache.spark.sql.graftfn.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT heavy_hitters(c, 3) AS hh FROM VALUES
        |('x'),('x'),('x'),('y'),('y'),('z'),('w') AS t(c)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(r.length <= 3)
    assert(r.map(_.getString(0)).contains("x"))
  }

  test("winnow_array equals the built-in HOF formulation (random tokens and geometries)") {
    // The JVM-loop expression exists purely for performance (the HOF
    // spelling is O(m²) on the interpreted path — SCALING.md); this is
    // the proof they select the SAME fingerprint sets. Small arrays keep
    // the quadratic reference affordable in-test.
    val gen = Gen.zip(
      Gen.listOfN(18, Gen.oneOf("a", "b", "c", "d", "tok")),
      Gen.choose(1, 4), Gen.choose(1, 4), Gen.choose(0, 17))
    holds(Prop.forAll(gen) { case (toks0, k, win, dropN) =>
      val toks = toks0.drop(dropN) // vary length down to possibly < k
      val df = Seq(Tuple1(toks)).toDF("t")
      val viaExpr = df.select(
        org.apache.spark.sql.graftfn.WinnowArray.winnow(col("t"), k, win))
        .head().getSeq[String](0).toSet
      val m = size(col("t")) - lit(k - 1)
      val hashes = transform(sequence(lit(1), m), i =>
        md5(concat_ws(" ", slice(col("t"), i, lit(k)))))
      val starts = sequence(lit(1), greatest(m - lit(win - 1), lit(1)))
      val viaHof = df.select(
        when(m >= 1, array_distinct(transform(starts, j =>
          array_min(slice(hashes, j, lit(win))))))
          .otherwise(typedLit(Seq.empty[String])))
        .head().getSeq[String](0).toSet
      viaExpr == viaHof
    })
  }

  test("chunkTokens: lossless stride coverage at any (size, stride) geometry") {
    // Reconstructing the token stream from the chunks — the first
    // `stride` tokens of every chunk plus the tail of the last — must
    // give back EXACTLY the document's tokens, for random documents and
    // random legal geometries. This is the property that makes chunking
    // safe as a packing pass: no token lost, none duplicated outside the
    // declared overlap.
    val gen = Gen.zip(
      Gen.listOfN(40, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" ")),
      Gen.choose(1, 8), Gen.choose(0, 7))
    holds(Prop.forAll(gen) { case (text, stride, extra) =>
      val size = stride + extra
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val chunks = graft.ext.TextOps
        .chunkTokens(df, "doc_id", "text", size, stride)
        .orderBy("chunk_id").collect()
      val toks = text.split(" ").toSeq
      val starts = chunks.map(_.getAs[Long]("chunk_id") * stride)
      val lens = chunks.map(_.getAs[Long]("chunk_tokens"))
      // chunk k starts at k·stride; sizes are full except possibly the
      // last; the last chunk ends exactly at the token count
      starts.zip(lens).forall { case (s, l) => l == math.min(size, toks.size - s) } &&
        (chunks.isEmpty == toks.isEmpty) &&
        (chunks.isEmpty || starts.last + lens.last == toks.size) &&
        // every token position is inside some chunk
        toks.indices.forall(i => starts.zip(lens).exists { case (s, l) => i >= s && i < s + l })
    })
  }

  test("capPerGroup keeps exactly min(cap, group size) rows, the top-ranked ones") {
    val gen = Gen.zip(
      Gen.listOfN(30, Gen.zip(Gen.oneOf("s1", "s2", "s3"), Gen.choose(0, 9))),
      Gen.choose(1, 5))
    holds(Prop.forAll(gen) { case (rows, cap) =>
      rows.isEmpty || {
        val df = rows.zipWithIndex
          .map { case ((g, v), id) => (g, v.toDouble, id.toLong) }
          .toDF("grp", "v", "id")
        val kept = graft.ops.TopK
          .perGroup(df, Seq(col("grp")), Seq(desc("v"), col("id")), cap)
          .collect()
        val byGroup = rows.zipWithIndex.groupBy(_._1._1)
        byGroup.forall { case (g, members) =>
          val keptG = kept.filter(_.getAs[String]("grp") == g)
          val expected = members
            .map { case ((_, v), id) => (-v.toDouble, id.toLong) }.sorted
            .take(cap).map(_._2).toSet
          keptG.length == math.min(cap, members.size) &&
            keptG.map(_.getAs[Long]("id")).toSet == expected
        }
      }
    })
  }

  test("incrementalDedup: survivors' digests are unique, new to the base, and idempotent") {
    val digestGen = Gen.oneOf("d1", "d2", "d3", "d4", "d5")
    val gen = Gen.zip(
      Gen.listOfN(8, digestGen),   // base digests
      Gen.listOfN(12, digestGen))  // incoming digests
    holds(Prop.forAll(gen) { case (baseD, incD) =>
      val base = baseD.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "d")
      val incoming = incD.zipWithIndex.map { case (d, i) => ((100 + i).toLong, d) }.toDF("id", "d")
      val surv = graft.ext.Dedup
        .incrementalDedup(base, incoming, "id", col("d")).collect()
      val survD = surv.map(_.getAs[String]("digest"))
      // one survivor per new digest, none already in the base
      survD.distinct.length == survD.length &&
        survD.forall(!baseD.contains(_)) &&
        survD.toSet == incD.toSet.diff(baseD.toSet) && {
          // idempotence: ingesting the same batch against base ∪ survivors
          // yields nothing
          val base2 = base.select(col("id"), col("d"))
            .union(surv.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest")))
              .toDF("id", "d"))
          graft.ext.Dedup.incrementalDedup(base2, incoming, "id", col("d")).isEmpty
        }
    })
  }

  test("heavy_hitters rejects non-string inputs at analysis time") {
    org.apache.spark.sql.graftfn.GraftFunctions.register(spark)
    // ExpectsInputTypes(StringType): heavy_hitters(user_id, 10) on a
    // non-string column is an ANALYSIS error (the old behavior passed
    // analysis and threw ClassCastException mid-job); an explicit
    // CAST(... AS STRING) keeps it usable on any column.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT heavy_hitters(c, 2) FROM VALUES (1),(1),(2) AS t(c)").collect()
    }
    val r = spark.sql(
      """SELECT heavy_hitters(CAST(c AS STRING), 2) AS hh
        |FROM VALUES (1),(1),(2) AS t(c)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(_.getString(0)).contains("1"))
  }
}
