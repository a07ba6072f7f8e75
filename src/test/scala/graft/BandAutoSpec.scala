package graft

/** Round-12 production knobs, pinned (VERDICT r11 asks #3-#5): the
  * occupancy-normalized band-width rule behind q55 and the facade's
  * auto banding, the input-scaled shuffle-partition rule behind the
  * measurement sessions, and the density-normalized DBSCAN facade
  * default. */
class BandAutoSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions.element_at

  import graft.operators.Similarity

  private val dir = "/root/testdata/sf0.001"
  private val dir001 = "/root/testdata/sf0.01"

  test("bandBitsFor pins the occupancy rule: 8 through the calibration corpus, log-N growth past it") {
    // width 8 at EVERY oracle/committed-bench tier (N <= 2000 = the
    // sf0.1 calibration corpus) — q55's hash and memo key untouched
    Similarity.bandBitsFor(1L) shouldBe 8
    Similarity.bandBitsFor(20L) shouldBe 8    // sf0.001
    Similarity.bandBitsFor(200L) shouldBe 8   // sf0.01 (the oracle tier)
    Similarity.bandBitsFor(2000L) shouldBe 8  // sf0.1 (the committed bench tier)
    // first widening is integer-exact at N0 + 1
    Similarity.bandBitsFor(2001L) shouldBe 9
    Similarity.bandBitsFor(20000L) shouldBe 12   // sf1
    Similarity.bandBitsFor(200000L) shouldBe 15  // sf10
    Similarity.bandBitsFor(600000L) shouldBe 17  // sf30
    // monotone, and capped at the 30-bit int-bucket ceiling
    Similarity.bandBitsFor(Long.MaxValue) shouldBe 30
    val widths = Seq(1L, 2000L, 2001L, 1L << 20, 1L << 30, Long.MaxValue)
      .map(Similarity.bandBitsFor)
    widths shouldBe widths.sorted
  }

  test("the plane family is prefix-shared: the production calibration is the rule's own 16x8 point") {
    Similarity.prodPlanesFor(16, 8) shouldBe
      (0 until 128).map(p => Similarity.testSignVector(s"p$p"))
  }

  test("bandCandidatesAuto at a calibration-tier corpus IS the pinned production calibration") {
    val (auto, bits) = Similarity.bandCandidatesAuto(
      spark, dir, 16, "spec:auto", capFraction = 1.0)
    bits shouldBe 8
    val explicitCands = Similarity.bandCandidates(spark, dir,
      Similarity.prodPlanesFor(16, 8), 16, 8, "spec:explicit", capFraction = 1.0)
    // same memo key (calibration-addressed), so literally the same frame
    auto eq explicitCands shouldBe true
  }

  test("bandCandidatesAuto WIDENS past a busted budget instead of refusing") {
    // deterministic on the fixture: read the 8-bit width's exact
    // pre-flight volume, then set the budget just under it — the rule
    // must widen to a width whose volume fits, not throw (round-11's
    // fixed-width gate refused here; the refusal now survives only for
    // "no width <= 30 fits")
    val vol8 = Similarity.rawVolumeAt(spark, dir001, 16, 8)
    assert(vol8 > 0L, "fixture drift: the 200-vector corpus must band-collide at 8 bits")
    spark.conf.set("graft.neardup.maxCandidateRows", (vol8 - 1).toString)
    try {
      val (cands, bits) = Similarity.bandCandidatesAuto(
        spark, dir001, 16, "spec:widen", capFraction = 1.0)
      bits should be > 8
      Similarity.rawVolumeAt(spark, dir001, 16, bits) should be <= (vol8 - 1)
      cands.count() should be >= 0L // the widened build runs
    } finally spark.conf.unset("graft.neardup.maxCandidateRows")
  }

  test("ToolSession.shufflePartitionsFor pins the input-scaled full-wave rule") {
    // floor: every committed tier keeps the 32-partition geometry
    ToolSession.shufflePartitionsFor(32, 17L << 20) shouldBe 32        // sf0.1
    ToolSession.shufflePartitionsFor(32, 183L << 20) shouldBe 32       // sf1
    ToolSession.shufflePartitionsFor(32, 563L << 20) shouldBe 32       // sf3
    // sf10 (2.19 GB): raw width 33 would run 32 tasks + ONE straggler
    // per stage — the measured 1.5-1.7× iteration-family tax; whole
    // waves round it back to 32
    ToolSession.shufflePartitionsFor(32, 2186000000L) shouldBe 32
    // sf30 (6.4-6.9 GB) scales past the pin in WHOLE waves (3 × 32)
    ToolSession.shufflePartitionsFor(32, 6400000000L) shouldBe 96
    ToolSession.shufflePartitionsFor(32, 6842000000L) shouldBe 96
    // cap and floor
    ToolSession.shufflePartitionsFor(32, 1L << 50) shouldBe 1024
    ToolSession.shufflePartitionsFor(64, 0L) shouldBe 64
    // the cap itself honors whole waves (r12 advisory): at 48 cores the
    // old min(1024, waves*cpus) returned 1024 ≈ 21.3 waves — a partial
    // wave at exactly the scale where the straggler tax is largest
    ToolSession.shufflePartitionsFor(48, 1L << 50) shouldBe 1008 // 21 × 48
    ToolSession.shufflePartitionsFor(48, 1L << 50) % 48 shouldBe 0
  }

  test("GraftSession rides the same full-wave partition rule as the tools") {
    // GraftSession.build is ToolSession.build plus views: the pure-SQL
    // surface gets the same input-scaled rule, not a 32-pin.
    // ≤ sf10 inputs keep the committed 32-partition geometry on 32 cores
    ToolSession.shufflePartitionsFor(32, ToolSession.dirBytes(dir)) shouldBe 32
    ToolSession.shufflePartitionsFor(32, 17L << 20) shouldBe 32       // sf0.1
    // an sf30-sized input scales to whole waves — the pin is gone
    ToolSession.shufflePartitionsFor(32, 6400000000L) shouldBe 96
  }

  test("autoWidthCache is session-lifecycle-safe: eviction drops a session's entries") {
    // a DISTINCT SparkSession object (shared context, separate key
    // identity — the map is identity-keyed like PersistedMemo's)
    val s2 = spark.newSession()
    val (_, bits) = Similarity.bandCandidatesAuto(
      s2, dir, 16, "spec:lifecycle", capFraction = 1.0)
    bits shouldBe 8
    Similarity.autoWidthEntries(s2) should be >= 1
    // the unit the application-end listener invokes — a stopped session
    // must not pin its object graph through the width map for the JVM
    // lifetime (r12 advisory, the round-2 PersistedMemo leak class)
    Similarity.autoWidthEvict(s2)
    Similarity.autoWidthEntries(s2) shouldBe 0
    // other sessions' entries are untouched
    Similarity.bandCandidatesAuto(spark, dir, 16, "spec:auto", capFraction = 1.0)
    Similarity.autoWidthEntries(spark) should be >= 1
  }

  test("facade dbscan defaults to the density-normalized radius; explicit eps is honored") {
    import spark.implicits._
    val pts = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", element_at($"embedding", 1).as("x"),
        element_at($"embedding", 2).as("y"))
    val n = pts.count()
    val expectedEps = graft.operators.Segmentation.scaledEps(n)
    // default dispatch == the same engine at the explicitly computed radius
    val byDefault = Graft.dbscan(pts, "vec_id", "x", "y").collect().toSeq.map(_.toSeq)
    val byExplicit = Graft.dbscan(pts, "vec_id", "x", "y", eps = expectedEps)
      .collect().toSeq.map(_.toSeq)
    byDefault shouldBe byExplicit
    // fixed-e opt-in is verbatim: a different radius gives a different scan
    val fixed = Graft.dbscan(pts, "vec_id", "x", "y", eps = 0.15)
      .collect().toSeq.map(_.toSeq)
    fixed shouldBe graft.operators.Segmentation
      .dbscan(pts, "vec_id", "x", "y", eps = 0.15, minPts = 4L)
      .collect().toSeq.map(_.toSeq)
    // the calibration pair is open and guarded
    an[IllegalArgumentException] should be thrownBy
      Graft.dbscan(pts, "vec_id", "x", "y", eps0 = -1.0)
  }
}
