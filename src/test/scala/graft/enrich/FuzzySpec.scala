package graft.enrich

import java.nio.file.Files
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import graft.SparkSpec

/** SequenceMatcher parity against CPython difflib constants (FIXTURES §2.7)
  * + the two-stage enricher join. */
class FuzzySpec extends SparkSpec {
  import spark.implicits._

  test("ratio matches difflib bit-for-bit on fixture pairs") {
    val cases = Seq(
      ("grady_memorial", "grady_memorial", 1.0),
      ("grady_memorial", "grady_memoral", 0.9629629629629629),
      ("piedmont_atlanta", "piedmont_atl", 0.8571428571428571),
      ("emory_midtown", "emory_mdtown", 0.96),
      ("abc", "xyz", 0.0),
      ("northside_atlanta", "northside_atlantaa", 0.9714285714285714),
      ("", "x", 0.0),
      ("", "", 1.0),
      ("st_josephs", "st_joseph", 0.9473684210526315),
      ("kindred_atlanta", "kindred", 0.6363636363636364))
    cases.foreach { case (a, b, want) =>
      assert(SequenceMatcher.ratio(a, b) == want, s"scala ratio($a,$b)")
    }
    // and through the Catalyst expression (codegen path)
    val got = cases.toDF("a", "b", "want")
      .select(SequenceMatcherRatio.seqRatio(col("a"), col("b")).as("r"), col("want"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  /** Scraped rows with an exact, a fuzzy and a no-match key, and a
    * duplicated fuzzy key, against a three-row CMS table. */
  private def scrapedFixture = Seq(
    ("grady_memorial", "Grady"),        // exact
    ("emory_mdtown", "Emory Mid"),      // fuzzy 0.96 vs emory_midtown
    ("piedmont_atl", "Piedmont"),       // best 0.857 < 0.9 → none
    ("emory_mdtown", "Emory Mid dup")   // duplicate key must survive
  ).toDF("campus_id", "display_name")
  private def cmsFixture = Seq(
    ("grady_memorial", "4", "Acute", "Fulton", "404", "30303"),
    ("emory_midtown", "5", "Acute", "Fulton", "404", "30308"),
    ("piedmont_atlanta", "3", "Acute", "Fulton", "404", "30309"))
    .toDF("campus_id", "cms_rating", "hospital_type", "county", "telephone_num", "cms_zip")

  test("enricher: exact hit, fuzzy >=0.9 hit, <0.9 unmatched; dup keys kept") {
    val out = RegistryEnricher.enrich(scrapedFixture, cmsFixture).cache()
    try {
      assert(out.count() == 4)
      val byRow = out.collect().map(r => (r.getAs[String]("campus_id"),
        r.getAs[String]("display_name"), r.getAs[String]("match_kind"),
        r.getAs[String]("cms_rating"))).toSet
      assert(byRow == Set(
        ("grady_memorial", "Grady", "exact", "4"),
        ("emory_mdtown", "Emory Mid", "fuzzy", "5"),
        ("emory_mdtown", "Emory Mid dup", "fuzzy", "5"),
        ("piedmont_atl", "Piedmont", "none", null)))
      val ratios = out.filter(col("match_kind") === "fuzzy")
        .select(col("match_ratio")).collect().map(_.getDouble(0)).toSeq
      assert(ratios.forall(_ == 0.96))
    } finally out.unpersist(blocking = true)
  }

  test("enricher: duplicate CMS keys keep the struct-min row, ties go to the smallest key") {
    val scraped = Seq(
      ("grady_memorial", "G1"),           // exact, against a duplicated key
      ("grady_memorial", "G2"),           // duplicate scraped key
      ("grady_memoral", "G3"),            // fuzzy 0.963 onto the duplicated key
      ("emory_mdtown", "E1")              // fuzzy 0.96 tie: emory_mdtownx < emory_midtown
    ).toDF("campus_id", "display_name")
    val cms = Seq(
      ("grady_memorial", "4", "Acute", "Fulton", "404-1", "30303"),
      ("grady_memorial", "3", "Acute", "Fulton", "404-2", "30303"),
      ("emory_midtown", "5", "Acute", "Fulton", "404-3", "30308"),
      ("emory_mdtownx", "2", "Acute", "Fulton", "404-4", "30308"))
      .toDF("campus_id", "cms_rating", "hospital_type", "county", "telephone_num", "cms_zip")
    val got = RegistryEnricher.enrich(scraped, cms).collect()
      .map(r => (r.getAs[String]("display_name"), r.getAs[String]("match_kind"),
        r.getAs[String]("cms_rating"), r.getAs[String]("telephone_num"),
        r.getAs[Double]("match_ratio")))
      .toSeq.sortBy(_._1)
    // one output row per scraped row: neither the duplicated CMS key nor
    // the tied candidates fan a row out
    assert(got == Seq(
      ("E1", "fuzzy", "2", "404-4", 0.96),
      ("G1", "exact", "3", "404-2", 1.0),
      ("G2", "exact", "3", "404-2", 1.0),
      ("G3", "fuzzy", "3", "404-2", SequenceMatcher.ratio("grady_memoral", "grady_memorial"))))
  }

  test("job budget: one registry build, and it persists nothing") {
    val dir = Files.createTempDirectory("graft-registry-jobs")
    val out = dir.resolve("registry").toString
    // The CMS side is file-backed, as in a real build: a local-relation
    // fixture would be collected without a job. Its footer read happens
    // here, before counting starts.
    cmsFixture.write.parquet(dir.resolve("cms").toString)
    val (scraped, cms) = (scrapedFixture, spark.read.parquet(dir.resolve("cms").toString))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val cached = sc.getPersistentRDDs.keySet
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      RegistryEnricher.toRegistryProjection(RegistryEnricher.enrich(scraped, cms))
        .write.parquet(out)
      Bus.drain(sc)
    } finally sc.removeSparkListener(listener)
    // The CMS collect at the enrich call (1) and the write (1): the match
    // is one expression over the scraped rows, so the build has no join,
    // shuffle or broadcast. Nothing is persisted, counted or read back.
    assert(jobs.get == 2)
    assert(sc.getPersistentRDDs.keySet == cached)
    val written = spark.read.parquet(out)
    assert(written.count() == 4)
    assert(written.filter(col("cms_rating") =!= "").count() == 3)
  }

  // Structure-free insurance for the signature prefilter (deletion
  // variants + L*-grams + CMS length-class pruning): every scraped
  // row's winner and ratio must equal the all-pairs argmax computed
  // driver-side with the same difflib-clone ratio. Seeded mutations
  // cover deletes, substitutions, inserts, swaps at varying lengths.
  // PARAMETERIZED over cutoffs (VERDICT r13 item 5): the index's regime
  // boundaries move with the cutoff — the delete-variant class condition
  // (Da ≤ 1 ∧ Db ≤ 1) admits different (la, lb) classes, the pigeonhole
  // L* degrades toward 1-grams as c falls, and the ±-widened length band
  // opens up — so the public `enrich(..., cutoff)` surface is exercised
  // well off the gate's c = 0.9 happy path.
  for (cutoff <- Seq(0.5, 0.7, 0.9, 0.95))
    test(s"enricher fuzzy stage matches brute force on a randomized corpus " +
        s"at cutoff $cutoff (index loses no >=cutoff pair)") {
      randomizedParity(cutoff)
    }

  private def randomizedParity(cutoff: Double): Unit = {
    val rnd = new scala.util.Random(1313)
    def randKey(n: Int) = Seq.fill(n)("abcdefgh0123".charAt(rnd.nextInt(12))).mkString
    val cmsKeys = (1 to 60).map(i => s"${randKey(6 + rnd.nextInt(10))}_$i")
    def mutate(s: String): String = rnd.nextInt(4) match {
      case 0 => val i = rnd.nextInt(s.length); s.take(i) + s.drop(i + 1)
      case 1 => val i = rnd.nextInt(s.length); s.updated(i, 'z')
      case 2 => val i = rnd.nextInt(s.length); s.take(i) + "q" + s.drop(i)
      case _ => val i = rnd.nextInt(s.length - 1)
        s.take(i) + s(i + 1) + s(i) + s.drop(i + 2)
    }
    val scrapedKeys = cmsKeys.map(k => if (rnd.nextBoolean()) mutate(k) else k) ++
      (1 to 40).map(i => s"${randKey(6 + rnd.nextInt(10))}x$i")
    val scraped = scrapedKeys.zipWithIndex
      .map { case (k, i) => (k, s"row$i") }.toDF("campus_id", "display_name")
    // each CMS row carries its own key in an attribute column, so the
    // check below sees WHICH row won, not only its ratio
    val cms = cmsKeys.map(k => (k, "5", "Acute", "Cty", k, "30303"))
      .toDF("campus_id", "cms_rating", "hospital_type", "county",
        "telephone_num", "cms_zip")
    val rows = RegistryEnricher.enrich(scraped, cms, cutoff)
      .select(col("campus_id"), col("display_name"), col("match_kind"),
        col("match_ratio"), col("telephone_num"))
      .collect()
    assert(rows.length == scrapedKeys.size)
    val got = rows
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.getString(4))))
      .toMap
    val cmsSet = cmsKeys.toSet
    scrapedKeys.zipWithIndex.foreach { case (k, i) =>
      // the winner: highest ratio, ties to the smallest CMS key
      val want: (String, Option[Double], Option[String]) =
        if (cmsSet.contains(k)) ("exact", Some(1.0), Some(k))
        else {
          val ok = cmsKeys.map(c => (SequenceMatcher.ratio(k, c), c))
            .filter(_._1 >= cutoff)
          if (ok.isEmpty) ("none", None, None)
          else {
            val top = ok.map(_._1).max
            ("fuzzy", Some(top), Some(ok.filter(_._1 == top).map(_._2).min))
          }
        }
      assert(got((k, s"row$i")) == want,
        s"cutoff $cutoff key $k: got ${got((k, s"row$i"))}, want $want")
    }
  }

  test("enricher degenerate edges: empty CMS, null scraped keys") {
    val scraped = Seq(("abc", "A"), (null.asInstanceOf[String], "B"))
      .toDF("campus_id", "display_name")
    val cmsEmpty = Seq.empty[(String, String, String, String, String, String)]
      .toDF("campus_id", "cms_rating", "hospital_type", "county",
        "telephone_num", "cms_zip")
    // Empty CMS: the index has no keys and no length classes,
    // but every scraped row must still emit its 'none' row.
    val out = RegistryEnricher.enrich(scraped, cmsEmpty).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("match_kind") == "none"))
    // Null scraped key: never looked up, and still emits its 'none' row.
    val cms = Seq(("abc", "5", "Acute", "Cty", "404", "1"))
      .toDF("campus_id", "cms_rating", "hospital_type", "county",
        "telephone_num", "cms_zip")
    val out2 = RegistryEnricher.enrich(scraped, cms)
      .collect().map(r => r.getAs[String]("display_name") ->
        r.getAs[String]("match_kind")).toMap
    assert(out2 == Map("A" -> "exact", "B" -> "none"))
  }

  test("length-bound prune is sound: bound >= true ratio") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val a = rnd.alphanumeric.take(rnd.nextInt(12) + 1).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(12) + 1).mkString
      assert(SequenceMatcher.maxPossibleRatio(a.length, b.length) >=
        SequenceMatcher.ratio(a, b) - 1e-15)
    }
  }
}
