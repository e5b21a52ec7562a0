package graft

import graft.functions.GraftFunctions
import graft.linkage._
import graft.queries.LinkageQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LinkageSpec extends SparkTestBase {

  private def census = LinkageQueries.census(spark, sfDir)
  private def input = LinkageQueries.input(spark, sfDir)
  private val cfg = LinkageQueries.config

  /** A training session's histogram over a fresh blocked join. */
  private def freshHistogram(c: DataFrame, i: DataFrame, p: BlockingPass,
      conf: LinkageConfig): LinkageCascade.EmHistogram = {
    val cmps = p.comparisonsFor(conf)
    LinkageCascade.EmHistogram(p, cmps, LinkageCascade.gammaHistogram(
      LinkageCascade.score(LinkageCascade.pairs(c, i, p), cmps), cmps))
  }

  test("all linkage queries run and return rows at sf0.001") {
    LinkageQueries.defs.foreach { d =>
      GraftFunctions.register(spark)
      assert(d.query(spark, sfDir).count() > 0, s"${d.name} returned no rows")
    }
  }

  test("pipeline accuracy beats 0.9 precision and recall") {
    // The full module set — cascade plus the post-cascade movers and
    // zip3-adjacency modules (their planted classes are unreachable by
    // the 15 cascade passes BY DESIGN, so grading the cascade alone
    // would charge the pipeline for records another of its modules
    // recovers).
    GraftFunctions.register(spark)
    val links = LinkageCascade.run(
        LinkageQueries.cascadeRefs(spark, sfDir), input, cfg)
      .select("pik", "rec_id")
      .unionByName(LinkageQueries.defs.find(_.name == "q128_movers").get
        .query(spark, sfDir).select("pik", "rec_id"))
      .unionByName(LinkageQueries.defs.find(_.name == "q129_zip3_adjacency").get
        .query(spark, sfDir).select("pik", "rec_id"))
      .cache()
    val nLinks = links.count().toDouble
    val nCorrect = links.filter(col("pik") === col("rec_id")).count().toDouble
    val nTrue = census.count().toDouble
    links.unpersist()
    assert(nCorrect / nLinks > 0.9, s"precision ${nCorrect / nLinks}")
    assert(nCorrect / nTrue > 0.9, s"recall ${nCorrect / nTrue}")
  }

  test("concurrent cascade fold equals the sequential anti-join cascade") {
    import spark.implicits._
    // Three passes blocking on k1, k2, k3; one exact-name comparison, so
    // a candidate passes the threshold iff its name agrees.
    //  - rec 10: pass 1 ties two distinct PIKs (dropped), pass 2 links pik 2;
    //  - rec 20: pass 1 links pik 3, pass 3 would link pik 4;
    //  - rec 30: two input rows (a nickname expansion), pass 1 links pik 5
    //    through one row, pass 3 would link pik 6 through the other;
    //  - rec 40: only pass 3 links it; rec 50 is never linked.
    val cen = Seq[(Long, Option[String], Option[String], Option[String], String)](
      (1L, Some("a"), Some("x1"), None, "ann"),
      (2L, Some("a"), Some("x2"), None, "ann"),
      (3L, Some("b"), None, Some("c3"), "bob"),
      (4L, Some("r"), None, Some("c"), "bob"),
      (5L, Some("d"), None, Some("e2"), "daniel"),
      (6L, None, None, Some("e"), "dan"),
      (7L, None, None, Some("f"), "eve")).toDF("pik", "k1", "k2", "k3", "name")
    val inp = Seq[(Long, Option[String], Option[String], Option[String], String)](
      (10L, Some("a"), Some("x2"), None, "ann"),
      (20L, Some("b"), None, Some("c"), "bob"),
      (30L, Some("d"), None, Some("e"), "dan"),
      (30L, Some("d"), None, Some("e"), "daniel"),
      (40L, None, None, Some("f"), "eve"),
      (50L, Some("a"), None, None, "zed")).toDF("rec_id", "k1", "k2", "k3", "name")
    val passes = Seq("k1", "k2", "k3").map(k => BlockingPass(s"p_$k", Seq(k)))
    val fixture = LinkageConfig(
      Seq(Comparison("name", "name", Seq(ComparisonLevel(ExactMatch, 0.9, 0.1)), 0.1, 0.9)),
      lambda = 0.01, thresholdWeight = 0.0, passes = passes)
    val sequential = passes.foldLeft((Option.empty[DataFrame], inp)) {
      case ((acc, rem), p) =>
        val l = LinkageCascade.predict(cen, rem, p, fixture)
          .withColumn("pass", lit(p.name)).localCheckpoint()
        (Some(acc.fold(l)(_.unionByName(l))),
          rem.join(l.select("rec_id"), Seq("rec_id"), "left_anti"))
    }._1.get
    def keyed(df: DataFrame): Set[(Long, Long, String, Double)] =
      df.select("pik", "rec_id", "pass", "match_weight").as[(Long, Long, String, Double)]
        .collect().toSet
    val folded = keyed(LinkageCascade.run(cen, inp, fixture))
    assert(folded == keyed(sequential))
    assert(folded.map(t => (t._1, t._2, t._3)) ==
      Set((2L, 10L, "p_k2"), (3L, 20L, "p_k1"), (5L, 30L, "p_k1"), (7L, 40L, "p_k3")))
  }

  test("salted blocking produces exactly the same pairs as unsalted") {
    val pass = BlockingPass("zip3", Seq("zip3"))
    val salted = BlockingPass("zip3s", Seq("zip3"), salt = 4)
    val a = LinkageCascade.pairs(census, input, pass)
      .select("l_pik", "r_rec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = LinkageCascade.pairs(census, input, salted)
      .select("l_pik", "r_rec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, s"salting changed the candidate set: ${a.size} vs ${b.size}")
  }

  test("EM m-probabilities sum to 1 per comparison and find strong agreement") {
    GraftFunctions.register(spark)
    // Train the NON-DEGENERATE sessions q31 uses: each pass excludes the
    // comparisons its blocking conditions on (em_zip3 excludes geo;
    // em_name_yob excludes first/byear) — see Cascade.emTrain's
    // degenerate-mode doc.
    val (m, _) = LinkageCascade.emTrain(
      LinkageQueries.emPasses.map(freshHistogram(census, input, _, cfg)), cfg, iterations = 3)
    val byComp = m.groupBy(_._1)
    byComp.foreach { case (name, rows) =>
      val total = rows.map(_._3).sum
      assert(math.abs(total - 1.0) < 1e-6, s"$name m sums to $total")
    }
    // Matches agree on first name far more often than chance: the planted
    // messy-name rate leaves ~1/4 of matches with the EXACT first name
    // (typo classes k%4∈{0,1,2} break exactness but stay inside the JW
    // level), so exact+JW must dominate and the disagree level must be
    // small.
    def mOf(name: String, g: Int) = m.find(t => t._1 == name && t._2 == g).get._3
    val firstAgree = mOf("first", 2) + mOf("first", 1)
    assert(firstAgree > 0.7, s"EM agree-mass for first_name: $firstAgree")
    assert(mOf("first", 2) > 0.15, s"EM exact-level m for first_name: ${mOf("first", 2)}")
    // byear comes only from the session NOT blocked on dob_year, where
    // matches agree exactly almost always.
    assert(mOf("byear", 2) > 0.7, s"EM exact-level m for byear: ${mOf("byear", 2)}")
  }

  test("EM recovers planted m within tolerance across seeds and blockings") {
    GraftFunctions.register(spark)
    // Synthetic frame with KNOWN m: n people in blocks of B; the input
    // record of person k agrees with the census record on field f_i with
    // planted probability rate_i (hash-gated, deterministic). Values are
    // unique per person, so non-matches never agree (u_exact ≈ 0) and the
    // block's true prior is exactly 1/B. EM with u and λ fixed must drive
    // the exact-level m to the EMPIRICAL agreement rate of the planted
    // matches (compared against the realized rate, not the nominal, so
    // the tolerance covers only EM bias — the posterior down-weighting of
    // matches that disagree everywhere — not sampling noise).
    val plantedRates = Seq(("f1", 0.70), ("f2", 0.85), ("f3", 0.60))
    val n = 600
    for ((seed, b) <- Seq((1, 5), (2, 10), (3, 20))) {
      def agrees(idx: Int) = {
        val (_, rate) = plantedRates(idx)
        pmod(col("id") * (seed * 1000003 + idx * 7919 + 13), lit(997)) <
          lit(math.round(rate * 997).toInt)
      }
      def vOf(agree: org.apache.spark.sql.Column) =
        when(agree, concat(lit("v"), col("id")))
          .otherwise(concat(lit("w"), col("id")))
      val census2 = spark.range(n).select(
        col("id").as("pik"), (col("id") / b).as("blk"),
        concat(lit("v"), col("id")).as("f1"),
        concat(lit("v"), col("id")).as("f2"),
        concat(lit("v"), col("id")).as("f3"))
      val input2 = spark.range(n).select(
        col("id").as("rec_id"), (col("id") / b).as("blk"),
        vOf(agrees(0)).as("f1"), vOf(agrees(1)).as("f2"), vOf(agrees(2)).as("f3"))
      val empirical = spark.range(n).select(
        plantedRates.indices.map(i => sum(agrees(i).cast("long")).as(s"a$i")): _*)
        .head()
      val cmps = plantedRates.map { case (nm, _) =>
        Comparison(nm, nm, Seq(ComparisonLevel(ExactMatch, 0.5, 0.0001)), 0.5, 0.9999)
      }
      val pass = BlockingPass("blk", Seq("blk"))
      val cfg2 = LinkageConfig(cmps, lambda = 1.0 / b, thresholdWeight = 0.0,
        passes = Seq(pass))
      val (m, _) = LinkageCascade.emSession(
        freshHistogram(census2, input2, pass, cfg2), cfg2, iterations = 10)
      plantedRates.zipWithIndex.foreach { case ((nm, nominal), i) =>
        val mExact = m((nm, 1))
        val realized = empirical.getLong(i).toDouble / n
        assert(math.abs(mExact - realized) < 0.05,
          f"seed=$seed B=$b $nm: m̂=$mExact%.4f realized=$realized%.4f nominal=$nominal")
      }
    }
  }

  test("EM tolerance stop: converges early with a report, tol=0 bit-unchanged") {
    // Strongly separable fixture (one exact-match comparison, 80% true
    // agreement inside blocks): EM locks m within a few iterations, so
    // the Splink-style tolerance stop must fire well before the cap.
    val n = 2000L
    val b = 10L
    val census2 = spark.range(n).select(
      col("id").as("pik"), (col("id") / b).as("blk"),
      concat(lit("v"), col("id")).as("f1"))
    val input2 = spark.range(n).select(
      col("id").as("rec_id"), (col("id") / b).as("blk"),
      when(pmod(col("id"), lit(5)) === 0, concat(lit("w"), col("id")))
        .otherwise(concat(lit("v"), col("id"))).as("f1"))
    val cmps = Seq(
      Comparison("f1", "f1", Seq(ComparisonLevel(ExactMatch, 0.5, 0.0001)), 0.5, 0.9999))
    val pass = BlockingPass("blk", Seq("blk"))
    val cfg2 = LinkageConfig(cmps, lambda = 1.0 / b, thresholdWeight = 0.0,
      passes = Seq(pass))
    val cap = 50
    val hists = Seq(freshHistogram(census2, input2, pass, cfg2))
    val (est, reports) = LinkageCascade.emTrain(hists, cfg2, iterations = cap,
      tol = LinkageCascade.DefaultEmTol)
    val r = reports.head
    assert(r.converged, s"did not converge within $cap iterations: $r")
    assert(r.iterations < cap, s"tolerance stop never fired: $r")
    assert(r.maxDelta < LinkageCascade.DefaultEmTol)
    assert(r.blockKeys == Seq("blk"))
    // tol = 0 must reproduce the pre-tolerance fixed-iteration math
    // exactly (the q31 production path stays hash-identical).
    val fixedA = LinkageCascade.emTrain(hists, cfg2, iterations = 5)
    val fixedB = LinkageCascade.emTrain(hists, cfg2, iterations = 5, tol = 0.0)
    assert(fixedA == fixedB)
    // The converged estimates agree with the run-to-cap estimates to the
    // tolerance scale — stopping early changed cost, not the answer.
    val (capped, _) = LinkageCascade.emTrain(hists, cfg2, iterations = cap)
    est.zip(capped).foreach { case ((c1, g1, m1), (c2, g2, m2)) =>
      assert(c1 == c2 && g1 == g2 && math.abs(m1 - m2) < 0.01,
        s"$c1 gamma=$g1: converged $m1 vs capped $m2")
    }
  }

  test("EM histograms: one memo build equals fresh joins and feeds every EM consumer") {
    GraftFunctions.register(spark)
    def rows(h: LinkageCascade.EmHistogram): Seq[(Seq[Int], Long)] =
      h.patterns.map { case (g, n) => (g.toSeq, n) }.toSeq
    val memo = LinkageQueries.emHistograms(spark, sfDir)
    val fresh = LinkageQueries.emPasses.map(freshHistogram(census, input, _, cfg))
    assert(memo.map(_.pass) == LinkageQueries.emPasses)
    memo.zip(fresh).foreach { case (m, f) =>
      assert(m.comparisons == f.comparisons, m.pass.name)
      assert(rows(m).nonEmpty, s"${m.pass.name}: empty training histogram")
      assert(rows(m) == rows(f), s"${m.pass.name}: memo histogram differs from a fresh join")
    }
    // em_report, q31, q101, q105 and q107 read the memo: no rebuild.
    val builds = LinkageQueries.emHistograms.builds
    val report = Pipeline.stages.flatMap(_._2).toMap.apply("em_report")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getDouble(3)))
      .toSeq
    val (_, expected) = LinkageCascade.emTrain(fresh, cfg, iterations = 25,
      tol = LinkageCascade.DefaultEmTol)
    assert(report == expected.map(r => (r.blockKeys.mkString("+"), r.iterations,
      r.converged, BigDecimal(r.maxDelta).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    Seq("q31_em_training", "q101_em_step", "q105_em_history", "q107_param_compare")
      .foreach(q => assert(SparkEntry.queries(q)(spark, sfDir).count() > 0, q))
    assert(LinkageQueries.emHistograms.builds == builds)
  }

  test("bestLink keeps same-pik ties and drops only multi-pik ties") {
    import spark.implicits._
    val scored = Seq(
      (10L, 1L, 12.0), (10L, 1L, 12.0),           // same pik twice at top → keep one row
      (20L, 2L, 11.0), (21L, 2L, 11.0),           // two DISTINCT piks tied → drop rec 2
      (30L, 3L, 9.5), (31L, 3L, 8.0)              // clear winner → keep
    ).toDF("pik", "rec_id", "match_weight")
    val best = LinkageCascade.bestLink(scored).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(best == Set((10L, 1L), (30L, 3L)), s"unexpected bestLink result: $best")
  }

  test("u estimates sum to 1 per comparison") {
    GraftFunctions.register(spark)
    val u = LinkageCascade.estimateU(census, input, cfg)
      .groupBy("comparison").agg(sum("u_hat").as("total")).collect()
    u.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-3, r.toString))
  }

  /** Shared cascade run for the planted-class assertions — the same
    * reference-file cascade q32 ships (geosearch over GeoBase,
    * namesearch/dobsearch over the Name/DOB Reference File).
    */
  private lazy val cascade: Array[(Long, Long, String)] = {
    GraftFunctions.register(spark)
    LinkageCascade.run(LinkageQueries.cascadeRefs(spark, sfDir), input, cfg)
      .select("pik", "rec_id", "pass").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }

  private def linksOf(pass: String) = cascade.filter(_._3 == pass)

  test("geokey name-switch pass recovers transposed-name records") {
    val links = linksOf("p2_geokey_switch")
    assert(links.nonEmpty, "name-switch pass linked nothing")
    links.foreach { case (pik, rec, _) =>
      assert(pik == rec, s"name-switch mislink $pik -> $rec")
      assert(rec % 23 == 0, s"name-switch linked a non-swapped record $rec")
    }
  }

  test("street-soundex pass recovers zip-typo records") {
    val links = linksOf("p3_street_sdx")
    assert(links.nonEmpty, "street-soundex pass linked nothing")
    links.foreach { case (pik, rec, _) =>
      assert(pik == rec, s"street-soundex mislink $pik -> $rec")
      assert(rec % 17 == 0, s"street-soundex linked a non-zip-typo record $rec")
    }
  }

  test("DOB+NYSIIS pass recovers vowel-mangled class-N records") {
    val links = linksOf("p5_dob_nysiis")
    val classN = links.filter(_._2 % 29 == 0)
    assert(classN.nonEmpty, "NYSIIS pass recovered no class-N records")
    classN.foreach { case (pik, rec, _) => assert(pik == rec, s"N mislink $pik -> $rec") }
    // No earlier pass should have caught a class-N record: the vowel swap
    // breaks geokey (stale census address), fn2/ln2, and prefixes.
    val early = cascade.filter(t => t._2 % 29 == 0 &&
      Set("p1_geokey", "p2_geokey_switch", "p3_street_sdx",
        "p3b_street_sdx_switch").contains(t._3))
    assert(early.isEmpty, s"class-N recovered before NYSIIS: ${early.toSeq}")
  }

  test("reverse-soundex pass recovers first-letter-swapped class-V records") {
    val links = linksOf("p8_rev_sdx")
    val classV = links.filter(t => t._2 % 19 == 0 && t._2 % 29 != 0)
    assert(classV.nonEmpty, "reverse-soundex pass recovered no class-V records")
    classV.foreach { case (pik, rec, _) => assert(pik == rec, s"V mislink $pik -> $rec") }
  }

  /** Class-SwZ membership (transposed names + zip typo; mirror of
    * inputPre's isSwz).
    */
  private def isSwzRec(k: Long): Boolean =
    k % 47 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 37 != 0 && k % 41 != 0 && k % 200 >= 20

  test("street-soundex name-switch pass recovers transposed names with zip typos") {
    // SwZ: the broken zip keeps both geokey passes from blocking, the
    // transposed names keep the plain street pass below threshold, and the
    // bumped Sw-style day+month keeps the dobsearch initials-switch cut
    // from firing — p3b is the only recoverer.
    val links = linksOf("p3b_street_sdx_switch")
    assert(links.nonEmpty, "street-switch pass linked nothing")
    links.foreach { case (pik, rec, _) =>
      assert(pik == rec, s"street-switch mislink $pik -> $rec")
      assert(isSwzRec(rec), s"street-switch linked a non-SwZ record $rec")
    }
    val expected = census.select("pik").collect().map(_.getLong(0)).filter(isSwzRec).toSet
    assert(links.map(_._2).toSet == expected,
      s"class-SwZ coverage: got ${links.size}, expected ${expected.size}")
  }

  /** Class-SwD membership (transposed clean names, DOB intact, stale
    * census; mirror of inputPre's isSwd).
    */
  private def isSwdRec(k: Long): Boolean =
    k % 31 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 37 != 0 && k % 41 != 0 && k % 47 != 0 &&
      k % 17 != 0 && k % 13 != 0

  /** Class-L membership (reversed last name; mirror of inputPre's isL). */
  private def isLRec(k: Long): Boolean =
    k % 43 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 37 != 0 && k % 41 != 0 && k % 31 != 0 &&
      k % 47 != 0 && k % 17 != 0 && k % 13 != 0

  test("dobsearch initials-switch pass recovers transposed names at stale addresses") {
    val swd = cascade.filter(t => isSwdRec(t._2))
    assert(swd.nonEmpty, "no class-SwD records recovered")
    swd.foreach { case (pik, rec, pass) =>
      assert(pik == rec, s"SwD mislink $pik -> $rec")
      assert(pass == "p7b_initials_switch",
        s"SwD recovered by unexpected pass $pass for $rec")
    }
    val expected = census.select("pik").collect().map(_.getLong(0)).filter(isSwdRec).toSet
    assert(swd.map(_._2).toSet == expected,
      s"class-SwD coverage: got ${swd.size}, expected ${expected.size}")
  }

  test("dobsearch first2+yob pass recovers reversed-last-name records") {
    val l = cascade.filter(t => isLRec(t._2))
    assert(l.nonEmpty, "no class-L records recovered")
    l.foreach { case (pik, rec, pass) =>
      assert(pik == rec, s"L mislink $pik -> $rec")
      assert(pass == "p8b_fn2_yob", s"L recovered by unexpected pass $pass for $rec")
    }
    val expected = census.select("pik").collect().map(_.getLong(0)).filter(isLRec).toSet
    assert(l.map(_._2).toSet == expected,
      s"class-L coverage: got ${l.size}, expected ${expected.size}")
  }

  test("name3 pass links nothing bday+name2 has not already caught") {
    // Structural shadowing on shared sides: agreement on (fn3, ln3, day,
    // month) implies agreement on (fn2, ln2, day, month) plus the initial
    // cuts, which is exactly p7_bday_name's blocking with an identical
    // comparison set — so whatever survives to p7c scores identically and
    // was already decided. The pass exists for reference fidelity (the
    // reference's dobsearch runs against a different reference file with
    // alternate name/DOB combinations); any link it does make must be
    // correct.
    linksOf("p7c_name3").foreach { case (pik, rec, _) =>
      assert(pik == rec, s"name3 mislink $pik -> $rec")
    }
  }

  test("hhcomp passes recover moved-household records via housemate links") {
    val hh = cascade.filter(t => t._3 == "p9_hh_initials" || t._3 == "p10_hh_yob")
    assert(hh.nonEmpty, "hhcomp passes linked nothing")
    hh.foreach { case (pik, rec, _) => assert(pik == rec, s"hhcomp mislink $pik -> $rec") }
    // Every hhcomp link is a member of a moved household (hh%13, non-GQ).
    hh.foreach { case (_, rec, _) =>
      val hhId = if (rec % 200 < 20) rec - rec % 200 else rec - rec % 4
      assert(hhId % 13 == 0 && hhId % 200 != 0, s"hhcomp linked non-mover $rec (hh $hhId)")
    }
  }

  private def hhOf(k: Long): Long = if (k % 200 < 20) k - k % 200 else k - k % 4
  private def movedHh(k: Long): Boolean = {
    val hh = hhOf(k); hh % 13 == 0 && hh % 200 != 0
  }
  private def firstNameOf(k: Long): String =
    graft.queries.People.firstNames((((k * 7919) % 104729) % 20).toInt)

  /** Class-F membership (placeholder names; mirror of inputPre's isF). */
  private def isFRec(k: Long): Boolean =
    k % 37 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 17 != 0 && k % 200 >= 20

  /** Class-K membership (nickname first name; mirror of inputPre's isK). */
  private def isKRec(k: Long): Boolean =
    k % 41 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 37 != 0 &&
      graft.operators.Preprocess.nicknames.exists(_._1 == firstNameOf(k))

  /** Class-F2 membership (BOTH names placeholders; mirror of isF20). */
  private def isF2Rec(k: Long): Boolean =
    k % 59 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 37 != 0 && k % 41 != 0 && k % 47 != 0 &&
      k % 31 != 0 && k % 43 != 0 && k % 200 >= 20

  test("fake-name null-out rescues placeholder-named records in the geokey pass") {
    val f = cascade.filter(t => isFRec(t._2))
    assert(f.nonEmpty, "no class-F records recovered")
    f.foreach { case (pik, rec, pass) =>
      assert(pik == rec, s"F mislink $pik -> $rec")
      assert(pass == "p1_geokey", s"F recovered by unexpected pass $pass for $rec")
    }
    // Completeness: every census-covered class-F record links. The
    // null-out routes the placeholder first name to the null level
    // (weight 0) instead of a hard-disagreement penalty, per the
    // reference's per-column fake-name processing (cell 21).
    val expected = census.select("pik").collect().map(_.getLong(0)).filter(isFRec).toSet
    assert(f.map(_._2).toSet == expected,
      s"class-F coverage: got ${f.size}, expected ${expected.size}")
  }

  test("records with no name data are dropped before linking (cell 26)") {
    // Class F2 (both names placeholders) survives the null-out with no
    // name data at all; the reference's insufficient-information edit
    // drops those records from the input file entirely.
    val f2Input = input.filter(col("rec_id") % 59 === 0)
      .select("rec_id").collect().map(_.getLong(0)).filter(isF2Rec)
    assert(f2Input.isEmpty, s"dropped records still in input: ${f2Input.take(5).toSeq}")
    // Records that ARE in a k%53 residue but in some OTHER class keep
    // their name data and stay in the input (the drop is about name
    // nullness, not class membership).
    assert(input.filter(col("rec_id") % 59 === 0).count() > 0,
      "drop removed more than the no-name records")
    // And they are never linked by any pass.
    val f2Links = cascade.filter(t => isF2Rec(t._2))
    assert(f2Links.isEmpty, s"dropped records got linked: ${f2Links.take(5).toSeq}")
    // The class is non-empty at this sf (otherwise this test is vacuous).
    val planted = census.select("pik").collect().map(_.getLong(0)).filter(isF2Rec)
    assert(planted.nonEmpty, "no class-F2 records planted in census coverage")
  }

  test("nickname expansion rescues nickname-named records in the name+yob pass") {
    val kLinks = cascade.filter(t => isKRec(t._2))
    assert(kLinks.nonEmpty, "no class-K records recovered")
    kLinks.foreach { case (pik, rec, pass) =>
      assert(pik == rec, s"K mislink $pik -> $rec")
      assert(pass == "p4_name_yob", s"K recovered by unexpected pass $pass for $rec")
    }
    // No address pass can block class K (stale census address), and no
    // phonetic/prefix key of the raw nickname matches the canonical name —
    // only the expanded alternate row blocks.
    val early = cascade.filter(t => isKRec(t._2) &&
      Set("p1_geokey", "p2_geokey_switch", "p3_street_sdx",
        "p3b_street_sdx_switch").contains(t._3))
    assert(early.isEmpty, s"class-K recovered before expansion could matter: ${early.toSeq}")
    val expected = census.select("pik").collect().map(_.getLong(0)).filter(isKRec).toSet
    assert(kLinks.map(_._2).toSet == expected,
      s"class-K coverage: got ${kLinks.size}, expected ${expected.size}")
  }

  /** Class-M membership — the one shared definition (ClassPredicates). */
  private def isMRec(k: Long): Boolean = ClassPredicates.isMRec(k)

  test("married-surname class M is reachable ONLY through the reference file's alternate row") {
    // Class M: clean first name, MARRIED surname (exists nowhere on the
    // census primary row — only as the Name/DOB Reference File's era-1
    // refile), dob_year bumped, stale census address. p7_bday_name blocks
    // it against the married alternate row; every pass that could reach
    // the primary row is blocked by the bumped year / stale address.
    val m = cascade.filter(t => isMRec(t._2))
    assert(m.nonEmpty, "no class-M records recovered")
    m.foreach { case (pik, rec, pass) =>
      assert(pik == rec, s"M mislink $pik -> $rec")
      assert(pass == "p7_bday_name", s"M recovered by unexpected pass $pass for $rec")
    }
    val expected = census.select("pik").collect().map(_.getLong(0)).filter(isMRec).toSet
    assert(expected.nonEmpty, "no class-M records planted in census coverage")
    assert(m.map(_._2).toSet == expected,
      s"class-M coverage: got ${m.size}, expected ${expected.size}")
    // The proof that the REFERENCE-side alternate (not any input-side
    // mechanism) does the work: the single-frame cascade — identical
    // passes, census primary rows as every module's search side — cannot
    // link a single class-M record.
    GraftFunctions.register(spark)
    val primaryOnly = LinkageCascade.run(census, input, cfg)
      .select("pik", "rec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, rec) => isMRec(rec) }
    assert(primaryOnly.isEmpty,
      s"class M reachable without the reference file: ${primaryOnly.take(5).toSeq}")
  }

  test("reference frames carry the alternate rows the cascade searches") {
    val nd = LinkageQueries.namedob(spark, sfDir)
    val cenPiks = census.select("pik").collect().map(_.getLong(0)).toSet
    // Every covered pik appears; married piks carry >= 2 distinct surnames.
    val ndPiks = nd.select("pik").distinct().collect().map(_.getLong(0)).toSet
    assert(ndPiks == cenPiks, "namedob pik set != census pik set")
    val marriedVariants = nd.filter(col("pik") % 21 === 0)
      .groupBy("pik").agg(countDistinct("last_name").as("n"))
      .filter(col("n") < 2).count()
    assert(marriedVariants == 0, "a married pik lost its surname alternate")
    // GeoBase = namedob + address keys, one address per pik (inner join
    // against census can't drop or fan out rows).
    val gb = LinkageQueries.geobase(spark, sfDir)
    assert(gb.count() == nd.count(), "geobase row count != namedob row count")
    assert(gb.columns.contains("geokey_blk") && gb.columns.contains("zip3"),
      "geobase missing address keys")
  }

  /** Class-Mv membership (movers household; mirror of flaggedPersons'
    * isMv): every member of an hh%52 regular household.
    */
  private def isMvRec(k: Long): Boolean = {
    val hh = hhOf(k)
    hh % 52 == 0 && hh % 200 != 0 && (hh / 52) % 2 == 1
  }

  /** Class-Z3 membership (cross-zip3 mover; mirror of isZ3). */
  private def isZ3Rec(k: Long): Boolean =
    k % 61 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) && !isMvRec(k) &&
      k % 23 != 0 && k % 37 != 0 && k % 41 != 0 && k % 47 != 0 &&
      k % 31 != 0 && k % 43 != 0 && k % 59 != 0 && k % 21 != 0 &&
      k % 17 != 0 && k % 200 >= 20

  private def queryRows(name: String): Array[(Long, Long, String)] = {
    GraftFunctions.register(spark)
    LinkageQueries.defs.find(_.name == name).get.query(spark, sfDir)
      .select("pik", "rec_id", "pass").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }

  test("movers module recovers fully-unlinked moved households as a unit") {
    // Cascade position: planted Mv members (placeholder first name, stale
    // census address) are reachable by NO cascade pass — the 15-pass link
    // set contains none of them, which is exactly the movers eligibility.
    assert(cascade.filter(t => isMvRec(t._2)).isEmpty,
      "a cascade pass linked a planted Mv member — fixture broken")
    val rows = queryRows("q128_movers")
    val expected = census.select("pik").collect().map(_.getLong(0))
      .filter(isMvRec).toSet
    assert(expected.nonEmpty, "no Mv households planted at this SF")
    rows.foreach { case (pik, rec, _) =>
      assert(pik == rec, s"movers mislink $pik -> $rec")
    }
    assert(rows.map(_._2).toSet == expected,
      s"movers coverage: got ${rows.map(_._2).toSet}, expected $expected")
  }

  test("zip3 adjacency recovers cross-zip3 movers the exact-zip3 cut provably misses") {
    assert(cascade.filter(t => isZ3Rec(t._2)).isEmpty,
      "a cascade pass linked a planted Z3 record — fixture broken")
    val rows = queryRows("q129_zip3_adjacency")
    val expected = census.select("pik").collect().map(_.getLong(0))
      .filter(isZ3Rec).toSet
    assert(expected.nonEmpty, "no Z3 records planted at this SF")
    rows.foreach { case (pik, rec, _) =>
      assert(pik == rec, s"zip3-adjacency mislink $pik -> $rec")
    }
    assert(rows.map(_._2).toSet == expected,
      s"zip3-adjacency coverage: got ${rows.map(_._2).toSet}, expected $expected")
  }

  test("zip3 adjacency with a custom broadcast dim reproduces the arithmetic default") {
    import graft.linkage.LinkageCascade
    // The pluggable shape a real Census adjacency table drops into:
    // feeding the EXPLICIT arithmetic dim built from the frame's own
    // zip3 set must reproduce the inline-arithmetic default exactly —
    // and a truncated custom dim (identity edges only) must reduce the
    // neighborhood to exact-zip3, proving the dim actually binds.
    val rem = graft.queries.LinkageQueries.input(spark, sfDir)
      .select("rec_id", "zip3").filter(col("zip3").isNotNull)
    def keyed(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select("rec_id", "zip3").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val default = keyed(LinkageCascade.zip3Adjacent(rem))
    val viaDim = keyed(LinkageCascade.zip3Adjacent(rem,
      Some(LinkageCascade.arithmeticZip3Dim(rem))))
    assert(viaDim == default,
      s"explicit arithmetic dim diverges from the inline default: " +
        s"only-dim=${(viaDim -- default).take(3)} only-default=${(default -- viaDim).take(3)}")
    val identityDim = rem.select("zip3").distinct()
      .select(col("zip3"), col("zip3").as("adj_zip3"))
    val viaIdentity = keyed(LinkageCascade.zip3Adjacent(rem, Some(identityDim)))
    assert(viaIdentity == keyed(rem.select("rec_id", "zip3")),
      "identity dim should reduce the neighborhood to exact zip3")
  }

  /** Pure zip-typo membership: the k%17 zip noise with no other class, no
    * move, clean DOB, census-covered, non-GQ — records whose ONLY defect
    * is the zip rendering.
    */
  private def isZipTypoPure(k: Long): Boolean =
    k % 17 == 0 && k % 29 != 0 && k % 19 != 0 && !movedHh(k) &&
      k % 23 != 0 && k % 37 != 0 && k % 41 != 0 && k % 47 != 0 &&
      k % 31 != 0 && k % 43 != 0 && k % 59 != 0 && k % 21 != 0 &&
      k % 13 != 0 && k % 200 >= 20

  test("mafmatch blocks zip-typo variants that geokey equality misses") {
    val rows = queryRows("q130_mafmatch")
    rows.foreach { case (pik, rec, _) =>
      assert(pik == rec, s"mafmatch mislink $pik -> $rec")
    }
    val planted = census.select("pik").collect().map(_.getLong(0))
      .filter(isZipTypoPure).toSet
    assert(planted.nonEmpty, "no pure zip-typo records planted at this SF")
    assert((planted -- rows.map(_._2).toSet).isEmpty,
      s"mafmatch missed planted zip-typo records: ${(planted -- rows.map(_._2).toSet).toSeq}")
    // geokey EQUALITY provably misses them: neither geokey pass links any.
    val viaGeokey = cascade.filter(t => planted.contains(t._2) &&
      (t._3 == "p1_geokey" || t._3 == "p2_geokey_switch"))
    assert(viaGeokey.isEmpty,
      s"zip-typo records linked by geokey equality: ${viaGeokey.toSeq}")
  }

  test("GQ records never enter address-blocked passes") {
    val gqRecs = cascade.filter(t =>
      t._2 % 200 < 20 &&
        Set("p1_geokey", "p2_geokey_switch", "p3_street_sdx",
          "p3b_street_sdx_switch", "p9_hh_initials", "p10_hh_yob").contains(t._3))
    assert(gqRecs.isEmpty, s"GQ records linked via address blocking: ${gqRecs.toSeq}")
  }

  test("confirm drops links to deceased PIKs") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.lit
    val links = LinkageCascade.run(census, input, cfg).cache()
    val deceased = census.filter(pmod(col("pik"), lit(29)) === 0).select("pik")
    val confirmed = LinkageCascade.confirm(links, deceased)
    assert(confirmed.count() < links.count())
    assert(confirmed.filter(pmod(col("pik"), lit(29)) === 0).count() == 0)
    links.unpersist()
  }

  test("cascade links are invariant to input partitioning and row order") {
    GraftFunctions.register(spark)
    // On a real cluster the physical layout of the inputs is whatever the
    // previous job left behind; links must not depend on it (no
    // partition-order tie-breaks anywhere in block/score/bestLink).
    val base = LinkageCascade.run(census, input, cfg)
      .select("pik", "rec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def scrambled(df: org.apache.spark.sql.DataFrame) =
      df.repartition(13).sortWithinPartitions(xxhash64(struct(df.columns.map(col): _*), lit(7)))
    val alt = LinkageCascade.run(scrambled(census), scrambled(input), cfg)
      .select("pik", "rec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == alt,
      s"layout changed links: only-base=${(base -- alt).take(5)} only-alt=${(alt -- base).take(5)}")
  }

  test("block-skew report counts candidate pairs per key exactly") {
    GraftFunctions.register(spark)
    val pass = cfg.passes.find(_.name == "p4_name_yob").get
    val report = LinkageCascade.blockSkewReport(census, input, pass, topN = 5)
      .collect()
    assert(report.nonEmpty, "skew report empty")
    val heaviest = report.head
    val keys = pass.blockKeys
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(s"l_$k") === lit(heaviest.get(i)) }.reduce(_ && _)
    val actual = LinkageCascade.pairs(census, input, pass).filter(cond).count()
    assert(actual == heaviest.getAs[Long]("n_pairs"),
      s"reported ${heaviest.getAs[Long]("n_pairs")} pairs, actual $actual")
    // Heaviest-first ordering.
    val pairsCounts = report.map(_.getAs[Long]("n_pairs")).toSeq
    assert(pairsCounts == pairsCounts.sortBy(-_), s"not sorted: $pairsCounts")
  }

  test("block cost summary totals match the exact candidate-pair count") {
    GraftFunctions.register(spark)
    Seq("p4_name_yob", "p2_geokey_switch").foreach { name =>
      val pass = cfg.passes.find(_.name == name).get
      val row = LinkageCascade.blockCostSummary(census, input, pass).collect().head
      val exact = LinkageCascade.pairs(census, input, pass).count()
      assert(row.getAs[Long]("n_pairs") == exact,
        s"$name: summary ${row.getAs[Long]("n_pairs")} != exact $exact")
      assert(row.getAs[Long]("max_block_pairs") <= row.getAs[Long]("n_pairs"))
      assert(row.getAs[Long]("n_blocks") > 0L)
    }
  }

  test("autoSalt salts exactly the over-budget passes and keeps pairs identical") {
    GraftFunctions.register(spark)
    // Budget of 1 pair: every pass with any multi-record block goes salted.
    val salted = LinkageCascade.autoSalt(census, input, cfg.passes, maxBlockPairs = 1L)
    val worst = LinkageCascade.blockCostSummaryAll(census, input, cfg.passes)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("max_block_pairs")).toMap
    salted.foreach { p =>
      if (worst(p.name) > 1L) assert(p.salt > 1, s"${p.name} not salted")
      else assert(p.salt == 1, s"${p.name} salted needlessly")
    }
    assert(salted.exists(_.salt > 1), "no pass exceeded the 1-pair budget")
    // A generous budget leaves every pass untouched.
    val untouched = LinkageCascade.autoSalt(census, input, cfg.passes,
      maxBlockPairs = Long.MaxValue)
    assert(untouched == cfg.passes, "passes rewritten under a generous budget")
    // Salted blocking yields exactly the unsalted candidate pairs.
    val heavy = salted.maxBy(p => worst(p.name))
    val plain = heavy.copy(salt = 1)
    def pairSet(p: graft.linkage.BlockingPass) =
      LinkageCascade.pairs(census, input, p)
        .select("l_pik", "r_rec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(heavy) == pairSet(plain), s"${heavy.name}: salted pairs diverge")
  }

  test("single-scan cascade cost summary equals the per-pass summaries") {
    GraftFunctions.register(spark)
    val all = LinkageCascade.blockCostSummaryAll(census, input, cfg.passes)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_blocks"),
          r.getAs[Long]("max_block_pairs"))).toMap
    assert(all.size == cfg.passes.size, s"expected ${cfg.passes.size} rows, got ${all.size}")
    cfg.passes.foreach { p =>
      val one = LinkageCascade.blockCostSummary(census, input, p).collect().head
      val expected = (one.getAs[Long]("n_pairs"), one.getAs[Long]("n_blocks"),
        one.getAs[Long]("max_block_pairs"))
      assert(all(p.name) == expected, s"${p.name}: ${all(p.name)} != $expected")
    }
  }

  test("predict pass plans as a single equi-join, no cartesian product") {
    GraftFunctions.register(spark)
    val plan = LinkageCascade
      .predict(census, input, LinkageQueries.blockPass, cfg)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"unexpected cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), s"unexpected BNLJ:\n$plan")
  }

  test("q94 self-dedup: planted refilings cluster with their originals") {
    GraftFunctions.register(spark)
    val byName = LinkageQueries.defs.map(d => d.name -> d).toMap
    val rows = byName("q94_person_dedupe").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val planted = rows.filter(_._1 >= 10000000L)
    assert(planted.nonEmpty, "no planted refiling was recovered")
    planted.foreach { case (pik, cid, _, _) =>
      assert(cluster.get(pik - 10000000L).contains(cid),
        s"refiling $pik did not cluster with its original")
    }
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid survivor is not min pik")
      assert(members.count(_._4) == 1, s"cluster $cid has != 1 survivor")
    }
    // Null-heavy noise-class rows legitimately score below threshold, but
    // the bulk of the planted refilings must be recovered.
    val nPlantable = census.filter(pmod(col("pik"), lit(13)) === 0).count()
    assert(planted.length * 2 >= nPlantable,
      s"recovered ${planted.length} of $nPlantable planted refilings")
  }

  test("q107 m_combined rounds a 6-dp tie like DuckDB round(DOUBLE, 6)") {
    // The midpoint of 0.414782 and 0.414785 is the double
    // 0.41478349999999997; x·1e6 is exactly 414783.5, so DuckDB rounds
    // it up, while rounding its decimal rendering would round down.
    val mid = (0.414782 + 0.414785) / 2
    assert(LinkageQueries.roundDouble6(mid) == 0.414784)
    assert(LinkageQueries.roundDouble6(-mid) == -0.414784)
    assert(LinkageQueries.roundDouble6(0.1234564) == 0.123456)
  }
}
