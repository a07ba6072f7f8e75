package graft

/** Verifiers for the bucketed similarity paths against their exact
  * counterparts — the test-tier home of the all-pairs forms that must
  * never ship in the catalog (a cross join is a scale-killer at 100 TB).
  */
class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("q28 bucketed near-dup is a subset of all-pairs with high recall") {
    val exact = graft.operators.Similarity.allPairsNearDup(spark, sfDir)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val bucketed = SparkEntry.queries("q28_embedding_neardup")(spark, sfDir)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // candidates are verified with the exact cosine, so no false pairs
    bucketed.subsetOf(exact) shouldBe true
    // 16 bands × 3 bits gives ≥99% expected recall at cosine 0.4; the
    // tiny sf0.001 pair set makes the realized floor looser — anything
    // below 80% means the banding is broken, not unlucky
    exact.size should be > 0
    bucketed.size.toDouble / exact.size should be >= 0.8
  }

  test("q28's all-pairs term stays in the tiled kernel, never a cross product") {
    val p = SparkEntry.queries("q28_embedding_neardup")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the quadratic work is sealed inside the tile-pair flatMap; every
    // JOIN in the plan is an equi-join (tile ids, survivor ids, band
    // arrays) — a planner regression to a pair-materializing product
    // would reintroduce the quadratic shuffle this shape exists to avoid
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    p should include("MapPartitions")
  }

  test("pairTiles scales with N under the √ rule and guards the 2 GB tile row") {
    import graft.operators.Similarity.pairTiles
    // floor: every committed geometry (sf0.001 .. sf1, N ≤ 4.2M) keeps
    // B = 32, so the bench/oracle tiling this round is unchanged
    pairTiles(500L) shouldBe 32
    pairTiles(5_000L) shouldBe 32
    pairTiles(50_000L) shouldBe 32
    pairTiles(4_000_000L) shouldBe 32
    // √ rule above the floor: B = ceil(sqrt(N / 4096)), monotone in N
    pairTiles(100_000_000L) shouldBe math.ceil(math.sqrt(1e8 / 4096)).toInt
    val bs = Seq(1e7, 1e8, 1e9, 4e9).map(n => pairTiles(n.toLong))
    bs shouldBe bs.sorted
    // per-tile rows × 520 B stays under the collect_list 2 GB array
    // limit for every √-rule B (the round-6 pinned B=32 violated this
    // from N ≈ 4M up — the guard is now code, not a comment)
    for (n <- Seq(1e6, 1e7, 1e8, 1e9, 1e10).map(_.toLong)) {
      val b = pairTiles(n)
      (n.toDouble / b * 520L) should be <= 1.5e9
    }
    // past the memory bound the √ rule is overridden upward...
    val wide = pairTiles(1e9.toLong, rowBytes = 4096L)
    wide should be > pairTiles(1e9.toLong)
    (1e9 / wide * 4096L) should be <= 1.5e9
    // ...and an N that would need a quadratic-insane task count refuses
    // loudly, naming the escape hatches
    val ex = intercept[IllegalArgumentException](pairTiles(2e12.toLong))
    ex.getMessage should include("banded LSH")
    ex.getMessage should include("TargetTileRows")
  }

  test("q221 really runs the 64-cell geometry (clusters leave the catalog's 0..15)") {
    val rows = SparkEntry.queries("q221_multiprobe_nlist64")(spark, sfDir).collect()
    rows should not be empty
    // at nlist = 64 the assignment spreads over 0..63; if the open-nlist
    // path silently fell back to the catalog's 16 cells, every cluster
    // id would sit in 0..15 (P < 1e-14 for honest 64-cell output here)
    rows.map(_.getAs[Int]("cluster")).max should be > 15
    // and the per-query lists obey the k = 5 contract
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      g.length should be <= 5
      g.map(_.getAs[Int]("rn")).sorted shouldBe (1 to g.length).toArray
    }
  }

  test("q55 production-calibration candidate volume is far below all-pairs") {
    val dir = "/root/testdata/sf0.01" // 500 docs — enough pairs to measure
    val docs = graft.sources.Tables.embeddings(spark, dir).count()
    val allPairs = docs * (docs - 1) / 2
    val cands = SparkEntry.queries("q55_neardup_production")(spark, dir).count()
    // 16 bands × 8-bit buckets: random collision 16/256 ≈ 6% of pairs;
    // 15% is the "still pruning" line (the in-build cap throws at 25%)
    cands.toDouble / allPairs should be < 0.15
    // and the passing set at cosine >= 0.85 is exact — verified against
    // the brute-force threshold on the same data
    val passed = SparkEntry.queries("q55_neardup_production")(spark, dir)
      .filter($"passed" === 1).select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val exact = graft.operators.Similarity.allPairsNearDup(spark, dir)
      .filter($"cosine" >= graft.operators.Similarity.ProdThreshold)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    passed.subsetOf(exact) shouldBe true
  }

  test("a mis-calibrated banding throws its candidate cap instead of going quadratic") {
    // q28's narrow 3-bit bands on sf0.01 produce near-quadratic
    // candidates BY DESIGN (synthetic threshold 0.4) — running that
    // calibration under a tight cap must trip the telemetry guard
    val e = intercept[IllegalStateException] {
      graft.operators.Similarity.bandCandidates(
        spark, "/root/testdata/sf0.01",
        (0 until 48).map(p => graft.operators.Similarity.testSignVector(s"b$p")),
        16, 3, "capspec", capFraction = 0.01)
    }
    e.getMessage should include("mis-calibrated")
  }

  test("q41 assignment is deterministic and fit-free across invocations") {
    val a = SparkEntry.queries("q41_knn_ivf")(spark, sfDir).collect()
    val b = SparkEntry.queries("q41_knn_ivf")(spark, sfDir).collect()
    a should contain theSameElementsInOrderAs b
  }

  test("q68 cell report partitions the corpus and its identities hold") {
    import spark.implicits._
    val rows = SparkEntry.queries("q68_cluster_balance")(spark, sfDir)
      .as[(Int, Long, Double, Double, Double, Double)].collect()
    val nVectors = graft.sources.Tables.embeddings(spark, sfDir).count()
    // √N geometry: the audit runs the cell count the scale rule would
    // deploy, so the report covers nlist = max(16, ceil(√N)) cells
    val nlist = graft.operators.Similarity.sqrtNlist(nVectors)
    nlist shouldBe math.max(16, math.ceil(math.sqrt(nVectors.toDouble)).toInt)
    // occupied cells only, each reported once, ids inside the geometry;
    // occupancy partitions the corpus exactly
    rows.map(_._1).distinct.length shouldBe rows.length
    all(rows.map(_._1)) should (be >= 0 and be < nlist)
    rows.map(_._2).sum shouldBe nVectors
    rows.map(_._3).sum shouldBe 1.0 +- 1e-9
    rows.foreach { case (_, n, share, balance, minCos, maxCos) =>
      n should be > 0L
      share shouldBe n.toDouble / nVectors
      balance shouldBe share * nlist
      minCos should be <= maxCos
      // cosine-to-centroid is a real cosine (6-dp rounding slack on the
      // projection feeding it)
      minCos should be > -1.0 - 1e-4
      maxCos should be < 1.0 + 1e-4
    }
  }

  test("q72 verdicts match a brute-force SemDeDup recompute; kept set is independent") {
    val out = SparkEntry.queries("q72_semantic_prune")(spark, sfDir)
      .as[(Long, Int, Double, Int)].collect()
    out.length shouldBe 500
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    // same left-to-right accumulation as the native graft_dot expression
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = (0 until 16).map(j =>
      graft.operators.Similarity.testSignVector(s"c$j").map(_.toDouble).toArray)
    val nrm = vecs.view.mapValues(v => math.sqrt(dot(v, v))).toMap
    val assign = vecs.map { case (id, v) =>
      val scores = cents.map(c => round6(dot(v, c)))
      val cl = scores.indexOf(scores.max) // first max = lowest-id tiebreak
      id -> ((cl, scores.max / (nrm(id) * 8.0)))
    }
    val expectedDropped = assign.keys.filter { x =>
      val (cx, px) = assign(x)
      assign.exists { case (y, (cy, py)) =>
        y != x && cy == cx &&
          round4(dot(vecs(x), vecs(y)) / (nrm(x) * nrm(y))) >= 0.4 &&
          (py < px || (py == px && y < x))
      }
    }.toSet
    out.foreach { case (id, cl, cc, kept) =>
      cl shouldBe assign(id)._1
      cc shouldBe assign(id)._2 +- 1e-12
      kept shouldBe (if (expectedDropped(id)) 0 else 1)
    }
    // dominance pruning leaves an independent set: no two kept vectors
    // in one cell are within the semantic-duplicate threshold
    val kept = out.filter(_._4 == 1).map(r => (r._1, r._2))
    kept.groupBy(_._2).foreach { case (_, members) =>
      for (Array((a, _), (b, _)) <- members.combinations(2).map(_.toArray))
        round4(dot(vecs(a), vecs(b)) / (nrm(a) * nrm(b))) should be < 0.4
    }
    // and the prune actually prunes on this corpus
    expectedDropped should not be empty
  }

  test("q83: SQ8 rerank recovers the exact top-5 and the ADC error is bounded") {
    val exact5 = SparkEntry.queries("q29_knn_brute_force")(spark, sfDir)
      .filter($"rn" <= 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val out = SparkEntry.queries("q83_quantized_knn")(spark, sfDir).collect()
    out.length shouldBe 25
    val got = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // a 20-deep quantized shortlist re-ranked exactly should recover
    // nearly all of the brute-force top-5
    (got intersect exact5).size.toDouble / exact5.size should be >= 0.8
    // per-vector SQ8 keeps the asymmetric (quantized) cosine close to
    // the exact one on every short-listed row
    out.foreach { r =>
      math.abs(r.getAs[Double]("approx_cosine") - r.getAs[Double]("cosine")) should be <= 0.05
    }
    // the persisted index is genuinely compressed: packed u8 codes in a
    // binary column plus a scalar affine/norm header — no float arrays
    val idx = graft.operators.Similarity.quantized(spark, sfDir)
    idx.schema("codes").dataType shouldBe org.apache.spark.sql.types.BinaryType
    idx.schema.fields.map(_.dataType).count(_.isInstanceOf[org.apache.spark.sql.types.ArrayType]) shouldBe 0
    idx.select(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.length($"codes"))).head().getInt(0) shouldBe 64
  }

  test("q157: trained PQ-ADC rerank recovers most of the exact top-5; index is well-formed") {
    val exact5 = SparkEntry.queries("q29_knn_brute_force")(spark, sfDir)
      .filter($"rn" <= 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val out = SparkEntry.queries("q157_pq_adc_knn")(spark, sfDir).collect()
    out.length shouldBe 25
    val got = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // 2 Lloyd rounds lift recall from 0.24 (sampled codebook) to ~0.72
    // on this corpus; the floor locks the training step in
    (got intersect exact5).size.toDouble / exact5.size should be >= 0.6
    // emitted cosine is the EXACT rerank value, descending with rn
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      sorted.map(_.getAs[Int]("rn")).toSeq shouldBe (1 to 5)
      sorted.map(_.getAs[Double]("cosine")).toSeq.sliding(2).foreach {
        case Seq(a, b) => a should be >= b - 1e-4
        case _         => ()
      }
    }
    // the persisted index: 16 codes/vector, each a 4-bit id, plus a norm
    val idx = graft.operators.Similarity.pqIndex(spark, sfDir)
    val rows = idx.select($"codes", $"pqnrm").collect()
    rows.foreach { r =>
      val cs = r.getSeq[Int](0)
      cs.length shouldBe 16
      all(cs) should (be >= 0 and be <= 15)
      r.getDouble(1) should be > 0.0
    }
    // the codebook discriminates: every subspace uses more than one code
    val used = rows.map(_.getSeq[Int](0))
    (0 until 16).foreach { j => used.map(_(j)).distinct.length should be > 1 }
  }

  test("q86: hard negatives never share the query's label and rank by cosine") {
    val out = SparkEntry.queries("q86_hard_negatives")(spark, sfDir).collect()
    out.length shouldBe 25
    out.foreach { r =>
      r.getAs[Int]("neighbor_label") should not be r.getAs[Int]("query_label")
    }
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val cos = rows.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cosine"))
      cos.zip(cos.tail).foreach { case (a, b) => a should be >= b }
    }
  }

  test("q88: two-probe IVF recall is at least single-probe's, probing ≤2 cells") {
    val exact5 = SparkEntry.queries("q29_knn_brute_force")(spark, sfDir)
      .filter($"rn" <= 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val one = SparkEntry.queries("q41_knn_ivf")(spark, sfDir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val rows88 = SparkEntry.queries("q88_multiprobe_ivf")(spark, sfDir).collect()
    val two = rows88.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // a strict superset of candidate cells can only improve recall
    (two intersect exact5).size should be >= (one intersect exact5).size
    // every query's candidates really come from at most two cells
    rows88.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      rs.map(_.getAs[Int]("cluster")).toSet.size should be <= 2
    }
  }

  test("q96: the composed IVF+SQ8+rerank path tracks the full-precision two-probe search") {
    val rows = SparkEntry.queries("q96_quantized_ivf")(spark, sfDir).collect()
    rows.length shouldBe 25
    // ADC error bound holds through the composition
    rows.foreach { r =>
      math.abs(r.getAs[Double]("approx_cosine") - r.getAs[Double]("cosine")) should be <= 0.05
    }
    // against the same candidate pool scored in full precision (q88),
    // the quantize-then-rerank path recovers most of the top-5
    val full = SparkEntry.queries("q88_multiprobe_ivf")(spark, sfDir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    (got intersect full).size.toDouble / full.size should be >= 0.6
    // ≤ 2 probed cells per query, like q88
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      rs.map(_.getAs[Int]("cluster")).toSet.size should be <= 2
    }
  }

  test("q76: centroids equal the per-label element-wise mean of the raw vectors") {
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = SparkEntry.queries("q76_label_centroids")(spark, sfDir)
      .as[(Int, Int, Long, Double)].collect()
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .as[(Long, Array[Float], Int)].collect()
    val dim = vecs.head._2.length
    rows.length shouldBe vecs.map(_._3).distinct.length * dim
    val byLabel = vecs.groupBy(_._3)
    rows.foreach { case (label, pos, n, c) =>
      val vs = byLabel(label).map(_._2(pos).toDouble)
      n shouldBe vs.length.toLong
      c shouldBe r4(vs.sum / vs.length)
    }
  }

  test("q149 Lloyd census conserves vectors and move accounting") {
    val rows = SparkEntry.queries("q149_lloyd_refinement")(spark, sfDir)
      .as[(Int, Long, Long, Long)].collect()
    rows.map(_._1).toSeq shouldBe (0 until 16)
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    rows.map(_._2).sum shouldBe n   // before-census tiles the corpus
    rows.map(_._4).sum shouldBe n   // after-census tiles it too
    rows.foreach { case (_, nb, mo, na) =>
      mo should be <= nb            // can only lose members you had
      na should be >= nb - mo       // stayers are a floor on the after count
    }
    // refined (data-mean) centroids must beat random splits on their own
    // members: a majority of vectors keep their cell after refinement
    rows.map(_._3).sum.toDouble / n should be < 0.5
  }

  test("q187 JL projection is linear (exactly) and distance-preserving (statistically)") {
    import org.apache.spark.sql.functions._
    val p = SparkEntry.queries("q187_jl_projection")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (0 until 16).map(j => r.getDouble(r.fieldIndex(s"p$j"))))
      .toMap
    val raw = sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    p.keySet shouldBe raw.keySet
    // distortion: per JL, ‖p(a)−p(b)‖²/‖a−b‖² concentrates around 1;
    // with k=16 the band is loose, so assert the median lands in a
    // generous [0.4, 1.9] and NO pair degenerates to 0 or explodes
    val ids = raw.keys.toSeq.sorted.take(40)
    val ratios = for {
      (a, i) <- ids.zipWithIndex; b <- ids.drop(i + 1)
      d2 = raw(a).zip(raw(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      if d2 > 0
      pd2 = p(a).zip(p(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    } yield pd2 / d2
    val med = ratios.sorted.apply(ratios.size / 2)
    med should (be > 0.4 and be < 1.9)
    ratios.min should be > 0.0
    ratios.max should be < 5.0
    // linearity, bit-for-bit: the projection matrix applied on the
    // driver to (a − b) must equal p(a) − p(b) up to one IEEE add —
    // verify against an independent driver recompute of S·v
    val planes = (0 until 16).map(j => Similarity_testPlane(s"jl$j"))
    for (id <- ids.take(5)) {
      val want = planes.map(s => 0.25 * raw(id).zip(s).map { case (x, w) => x * w }.sum)
      // driver fold is the same left-to-right association as the fused dot
      p(id).zip(want).foreach { case (gotJ, wantJ) => gotJ shouldBe wantJ }
    }
  }

  private def Similarity_testPlane(prefix: String): IndexedSeq[Int] =
    operators.Similarity.testSignVector(prefix)

  test("q202: MMR starts at max relevance, never repeats, and diversifies") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q202_mmr_retrieval")(spark, dir).collect()
    rows.map(_.getAs[Int]("round")).toSeq shouldBe (1 to 8)
    rows.map(_.getAs[Long]("vec_id")).distinct.length shouldBe 8
    // round 1 is the pure-relevance argmax (lambda > 0)
    val rels = rows.map(_.getAs[Double]("rel"))
    rels.head shouldBe rels.max
    // score = 0.7*rel - 0.3*maxsim with maxsim in [-1, 1] (cosines can
    // be negative, so the penalty can ADD) — bound the deviation
    rows.foreach { r =>
      math.abs(r.getAs[Double]("score") - 0.7 * r.getAs[Double]("rel")) should
        be <= 0.3 + 1e-6
    }
    // diversification is real on this corpus: the MMR order deviates
    // from the pure relevance order somewhere in the first 8
    val byRel = rows.sortBy(r => (-r.getAs[Double]("rel"), r.getAs[Long]("vec_id")))
      .map(_.getAs[Long]("vec_id")).toSeq
    val byRound = rows.sortBy(_.getAs[Int]("round")).map(_.getAs[Long]("vec_id")).toSeq
    withClue("MMR should reorder at least one pick vs pure relevance: ") {
      byRound should not be byRel
    }
  }

  test("q205: recall audit reconciles with the q29/q41 lists it measures") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q205_ann_recall")(spark, dir).collect()
    rows.length shouldBe 5
    // recompute the intersection from the two catalog queries directly
    val exact = SparkEntry.queries("q29_knn_brute_force")(spark, dir).collect()
      .filter(_.getAs[Int]("rn") <= 5)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = SparkEntry.queries("q41_knn_ivf")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val want = exact.count(p => p._1 == q && approx.contains(p))
      r.getAs[Long]("n_hit") shouldBe want
      r.getAs[Double]("recall_at_5") shouldBe want / 5.0
      r.getAs[Long]("n_probed") should be >= r.getAs[Long]("n_hit")
    }
  }

  test("tied neighbours come out in vec_id order with rn = 1..k on every ranking path") {
    // fixture corpus: query vectors 0-4, six exact copies of each (ids
    // 5-34, interleaved across queries) and 45 unrelated vectors. A
    // query and its copies all tie at one cosine, so only the vec_id
    // tiebreak orders them; rows are written in descending id order so
    // file order cannot stand in for it
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val query = (0L until 5L).map(q => q -> vec()).toMap
    val copyOf = (5L until 35L).map(id => id -> (id * 2 % 5)).toMap
    val rows = query.toSeq ++ copyOf.toSeq.map { case (id, q) => id -> query(q) } ++
      (35L until 80L).map(id => id -> vec())
    def copies(q: Long): Seq[Long] = copyOf.collect { case (id, `q`) => id }.toSeq.sorted
    def ranked(df: org.apache.spark.sql.DataFrame, key: String): Map[Long, Seq[(Long, Int)]] =
      df.select(col(key), $"neighbor_id", $"rn".cast("int")).as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).toSeq.map(r => (r._2, r._3))).toMap
    withTempDir("ties") { dir =>
      rows.sortBy(-_._1).map { case (id, v) => (id, v, (id % 3).toInt) }
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      try {
        val ids = 0L until 5L
        copies(0L) shouldBe Seq(5L, 10L, 15L, 20L, 25L, 30L)
        val q29 = ranked(SparkEntry.queries("q29_knn_brute_force")(spark, dir), "query_id")
        ids.foreach { q =>
          q29(q).map(_._2) shouldBe (1 to 10)
          q29(q).take(6).map(_._1) shouldBe copies(q)
        }
        def search(probes: Int, quantized: Boolean) = ranked(
          Graft.vectorSearch(spark, dir, ids, k = 5, probes = probes,
            quantizedScoring = quantized), "query_id")
        for ((probes, quantized) <- Seq((1, false), (16, false), (2, true))) {
          val got = search(probes, quantized)
          withClue(s"probes=$probes quantized=$quantized: ") {
            ids.foreach(q => got(q) shouldBe copies(q).take(5).zip(1 to 5))
          }
        }
        val graph = ranked(Graft.knnGraph(spark, dir, k = 5), "src")
        ids.foreach { q =>
          val group = (q +: copies(q)).sorted
          group.foreach(m => graph(m) shouldBe group.filterNot(_ == m).take(5).zip(1 to 5))
        }
      } finally graft.core.PersistedMemo.release(spark, dir)
    }
  }

  test("q213 triplets: positives are near-dups, negatives are cell-local non-dups") {
    val dir = "/root/testdata/sf0.001"
    val trips = SparkEntry.queries("q213_contrastive_triplets")(spark, dir).collect()
      .map(r => (r.getAs[Long]("anchor"), r.getAs[Long]("positive"),
        r.getAs[Long]("negative"), r.getAs[Double]("neg_cosine")))
    trips should not be empty
    // the dedup verdicts the triplets must respect
    val pairs = SparkEntry.queries("q26_ngram_jaccard")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    def jac(a: Long, b: Long): Double =
      pairs.getOrElse((math.min(a, b), math.max(a, b)), 0.0)
    // IVF cells at q213's own √N geometry (the open-nlist assignment)
    val embTable = graft.sources.Tables.embeddings(spark, dir)
    val nlist = graft.operators.Similarity.sqrtNlist(embTable.count())
    val cells = graft.operators.Similarity.assignCells(embTable, nlist)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def cosine(a: Long, b: Long): Double = {
      val (va, vb) = (emb(a).map(_.toDouble), emb(b).map(_.toDouble))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }
    trips.foreach { case (a, p, n, c4) =>
      withClue(s"triplet ($a, $p, $n): ") {
        Set(a, p, n).size shouldBe 3 // all distinct
        jac(a, p) should be >= 0.80 - 1e-9 // positive IS a near-dup
        jac(a, n) should be < 0.60 // negative is NOT
        cells(n) shouldBe cells(a) // hard: same semantic cell
        c4 shouldBe cosine(a, n) +- 1e-3 // the emitted score is real
      }
    }
  }

  test("assignCells: nlist=16 reproduces the catalog assignment; bigger nlist buys the promised sum-of-cell-squares drop") {
    val dir = "/root/testdata/sf0.01"
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // the open-knob assignment at the catalog's pinned nlist IS the
    // catalog assignment — same centroids, same 6-dp/lowest-id tie
    val catalog = graft.operators.Similarity.indexRows(emb)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val knob16 = graft.operators.Similarity.assignCells(emb, 16)
      .as[(Long, Int)].collect().toMap
    knob16 shouldBe catalog
    // nlist ∝ √N economics: Σ cell² (the within-cell quadratic work
    // every hubness/argmax/occupancy op pays) must fall when cells
    // quadruple — balanced cells predict ~4×; assert the direction
    // with slack for the synthetic geometry's imbalance
    def sumSq(nlist: Int): Double = {
      val sizes = graft.operators.Similarity.assignCells(emb, nlist)
        .groupBy($"cluster").count().as[(Int, Long)].collect()
      sizes.foreach { case (c, _) => c should (be >= 0 and be < nlist) }
      sizes.map { case (_, n) => n.toDouble * n }.sum
    }
    val (s16, s64) = (sumSq(16), sumSq(64))
    s64 should be < 0.5 * s16
  }

  test("q214 recall curve is monotone and its 1-probe point equals q205") {
    val dir = "/root/testdata/sf0.001"
    val curve = SparkEntry.queries("q214_probe_recall_curve")(spark, dir)
      .collect().sortBy(_.getAs[Int]("probes"))
    curve.map(_.getAs[Int]("probes")).toSeq shouldBe Seq(1, 2, 3, 4)
    // more probes never lose hits or candidates (the frontier is monotone)
    val hs = curve.map(_.getAs[Long]("n_hit"))
    val cs = curve.map(_.getAs[Long]("n_candidates"))
    hs.zip(hs.tail).foreach { case (a, b) => a should be <= b }
    cs.zip(cs.tail).foreach { case (a, b) => a should be < b }
    curve.foreach { r =>
      r.getAs[Double]("recall_at_5") shouldBe
        r.getAs[Long]("n_hit").toDouble / (5.0 * 5)
    }
    // the probes=1 point IS q205's audit, summed over its queries
    val p205 = SparkEntry.queries("q205_ann_recall")(spark, dir).collect()
    curve.head.getAs[Long]("n_hit") shouldBe p205.map(_.getAs[Long]("n_hit")).sum
    curve.head.getAs[Long]("n_candidates") shouldBe
      p205.map(_.getAs[Long]("n_probed")).sum
  }

  test("q216 ARI reconciles with a driver pair-count from the shared cells") {
    val dir = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q216_ari_labels")(spark, dir).collect().head
    // contingency from the one shared assignment + the label column
    val asg = graft.operators.Similarity.indexRows(
        graft.sources.Tables.embeddings(spark, dir))
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val lbl = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val ct = asg.toSeq.groupBy { case (id, c) => (c, lbl(id)) }
      .view.mapValues(_.size.toLong).toMap
    def p2(x: Long) = x * (x - 1) / 2
    val sumIj = ct.values.map(p2).sum
    val sumA = ct.groupBy(_._1._1).values.map(m => p2(m.values.sum)).sum
    val sumB = ct.groupBy(_._1._2).values.map(m => p2(m.values.sum)).sum
    val n = asg.size.toLong
    r.getAs[Long]("n") shouldBe n
    r.getAs[Long]("sum_ij") shouldBe sumIj
    r.getAs[Long]("sum_a") shouldBe sumA
    r.getAs[Long]("sum_b") shouldBe sumB
    val e = sumA.toDouble * sumB / p2(n)
    r.getAs[Double]("ari") shouldBe
      (sumIj - e) / ((sumA + sumB) / 2.0 - e) +- 1e-6
    // bounded above by 1; the synthetic labels are NOT the cells, so
    // agreement is partial — the audit must not report a degenerate 0/1
    r.getAs[Double]("ari") should be < 1.0
  }

  test("q217 retrieval eval reconciles with a full driver recompute") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q217_retrieval_eval")(spark, dir).collect()
    rows.length should be <= 20
    rows should not be empty
    // pseudo-qrels: the >=80% near-dup sets from q26's verdicts
    val rel = SparkEntry.queries("q26_ngram_jaccard")(spark, dir).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.80 - 1e-9)
      .flatMap(r => Seq(
        r.getAs[Long]("doc_a") -> r.getAs[Long]("doc_b"),
        r.getAs[Long]("doc_b") -> r.getAs[Long]("doc_a")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (emb(a).map(_.toDouble), emb(b).map(_.toDouble))
      va.zip(vb).map { case (x, y) => x * y }.sum /
        (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }
    rows.foreach { r =>
      val a = r.getAs[Long]("anchor")
      val want = rel(a)
      r.getAs[Long]("n_rel") shouldBe want.size.toLong
      // driver brute ranking with the operator's tiebreak
      val ranked = emb.keys.filter(_ != a).toSeq
        .map(id => (BigDecimal(cos(a, id)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP), id))
        .sortBy { case (c, id) => (-c, id) }.map(_._2).take(10)
      val hitRanks = ranked.zipWithIndex.collect {
        case (id, i) if want(id) => i + 1 }
      withClue(s"anchor $a: ") {
        r.getAs[Long]("n_hit10") shouldBe hitRanks.length.toLong
        r.getAs[Long]("first_rank") shouldBe
          hitRanks.headOption.getOrElse(0).toLong
        val rr = hitRanks.headOption.map(1.0 / _).getOrElse(0.0)
        r.getAs[Double]("rr") shouldBe rr +- 1e-6
        def dcg(rs: Seq[Int]) =
          rs.map(x => 1.0 / (math.log(x + 1) / math.log(2))).sum
        val idcg = dcg((1 to math.min(want.size, 10)))
        r.getAs[Double]("ndcg10") shouldBe dcg(hitRanks) / idcg +- 1e-5
        r.getAs[Double]("ndcg10") should (be >= 0.0 and be <= 1.0)
      }
    }
  }

  test("q218 hubness histogram conserves mass and list slots") {
    val dir = "/root/testdata/sf0.001"
    val hist = SparkEntry.queries("q218_hubness_audit")(spark, dir).collect()
      .map(r => r.getAs[Long]("k_occurrence") -> r.getAs[Long]("n_vectors"))
    val cells = graft.operators.Similarity.indexRows(
        graft.sources.Tables.embeddings(spark, dir))
      .select($"cluster").as[Int].collect()
    val n = cells.length.toLong
    // every vector lands in exactly one histogram bucket
    hist.map(_._2).sum shouldBe n
    // total occurrences = total top-5 slots = Σ_vec min(5, cellsize−1)
    val cellSizes = cells.groupBy(identity).view.mapValues(_.length).toMap
    val slots = cells.map(c => math.min(5, cellSizes(c) - 1).toLong).sum
    hist.map { case (k, cnt) => k * cnt }.sum shouldBe slots
    // the audit is non-degenerate on the corpus: occupancy varies
    hist.length should be > 1
  }

  test("cell shortlist kernel re-ranks to the exact window top-k under ties") {
    // adversarial nb frame: duplicated vectors (bit-equal cosines →
    // rounded ties resolved by vec_id), cells smaller than k, AND
    // zero-norm vectors. Under Spark 4's ANSI default the PRODUCTION
    // declarative cosine THROWS on the zero divisor (DIVIDE_BY_ZERO —
    // verified: plain `/` fails this frame), identically in the kernel
    // and join+window forms, so no silent divergence is reachable
    // there. The kernel itself still computes 0/0 → NaN in JVM
    // arithmetic and promises superset emission for NaN rows; that
    // path is exercised here with an explicitly NaN-producing cosine
    // (the shape a caller gets with ANSI off or a NaN-capable scoring
    // expression), where NaN sorts GREATEST under the desc window and
    // both forms must produce the identical top-k.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{expr, lit, row_number, when}
    val rnd = new scala.util.Random(11)
    val rows = (0L until 120L).map { id =>
      val cluster = (id % 7).toInt
      val v: Seq[Double] =
        if (id % 5 == 0) Seq.tabulate(8)(d => (cluster + 1.0) * (d + 1)) // duplicates
        else Seq.fill(8)(rnd.nextGaussian())
      val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      (id, v, nrm, cluster)
    } ++ (200L until 203L).map { id => // zero-norm rows → NaN cosines
      (id, Seq.fill(8)(0.0): Seq[Double], 0.0, (id % 3).toInt)
    }
    val nb = rows.toDF("vec_id", "v", "nrm", "cluster")
    graft.functions.GraftFunctions.register(spark)
    def r6(c: org.apache.spark.sql.Column) = graft.functions.Portable.detRound(c, 6)
    // NaN-producing cosine (ANSI-safe): zero divisor → NaN explicitly,
    // matching the kernel's JVM 0/0 arithmetic
    val cos = when($"qnrm" * $"nrm" === 0.0, lit(Double.NaN))
      .otherwise(expr("graft_dot(qv, v)") / ($"qnrm" * $"nrm"))
    val wr = Window.partitionBy($"src").orderBy(r6(cos).desc, $"vec_id".asc)
    val reference = nb.select($"cluster", $"vec_id".as("src"),
        $"v".as("qv"), $"nrm".as("qnrm"))
      .join(nb, Seq("cluster"))
      .filter($"vec_id" =!= $"src")
      .withColumn("rn", row_number().over(wr)).filter($"rn" <= 3)
      .select($"src", $"vec_id", $"rn")
      .as[(Long, Long, Int)].collect().toSet
    val viaKernel = graft.operators.Similarity.testCellTopShortlist(nb, 3)
      .join(nb.select($"vec_id".as("src"), $"v".as("qv"), $"nrm".as("qnrm")), Seq("src"))
      .join(nb.select($"vec_id", $"v", $"nrm"), Seq("vec_id"))
      .withColumn("rn", row_number().over(wr)).filter($"rn" <= 3)
      .select($"src", $"vec_id", $"rn")
      .as[(Long, Long, Int)].collect().toSet
    reference.size should be > 0
    viaKernel shouldBe reference
  }

  test("q219 drift cosines equal a driver centroid recompute; shares sum to 1") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q219_source_drift")(spark, dir).collect()
    rows.map(_.getAs[Double]("share")).sum shouldBe 1.0 +- 1e-4
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // exact micro-unit sums, like the engine
    def quant(x: Float): Long = math.floor(x.toDouble * 1e6 + 0.5).toLong
    val bySrc = emb.groupBy { case (id, _) => docs(id) }
      .view.mapValues { vs =>
        (0 until 64).map(d => vs.map(v => quant(v._2(d))).sum).toArray
      }.toMap
    val corpus = (0 until 64).map(d => bySrc.values.map(_(d)).sum).toArray
    rows.foreach { r =>
      val s = bySrc(r.getAs[String]("source")).map(_.toDouble)
      val c = corpus.map(_.toDouble)
      val cos = s.zip(c).map { case (a, b) => a * b }.sum /
        math.sqrt(s.map(a => a * a).sum * c.map(b => b * b).sum)
      r.getAs[Double]("cos_corpus") shouldBe cos +- 1e-5
      r.getAs[Double]("cos_corpus") should (be > -1.0 and be <= 1.0)
    }
  }

}
