package graft

import graft.linkage.BlockingPass
import graft.operators.Noise
import graft.queries.{LinkageQueries, People, RefFileQueries}
import graft.sources.ConfigFile
import org.apache.spark.sql.functions._

/** The config-as-file surface (SURVEY §3): the checked-in
  * `config/defaults.yaml` must parse to EXACTLY the hard-wired defaults
  * (so file and code cannot drift — regenerate with
  * `runMain graft.sources.ConfigFile` after changing either), render ∘
  * parse must be the identity on arbitrary configs, and interpreting the
  * file-parsed noise must produce the same rows as the hard-wired config
  * (the q77-hash-unchanged guarantee, checked frame-to-frame).
  */
class ConfigFileSpec extends SparkTestBase {

  test("checked-in defaults.yaml parses to the hard-wired noise + linkage config") {
    val parsed = ConfigFile.load("config/defaults.yaml")
    assert(parsed.noise == RefFileQueries.veryNoisyConfig,
      "defaults.yaml noise section drifted from veryNoisyConfig — " +
        "regenerate with `runMain graft.sources.ConfigFile`")
    assert(parsed.passes == LinkageQueries.config.passes,
      "defaults.yaml pass list drifted from LinkageQueries.passes")
    assert(parsed.hhPasses == LinkageQueries.config.hhPasses,
      "defaults.yaml hh_passes drifted from LinkageQueries.hhPasses")
    assert(parsed.lambda.contains(LinkageQueries.config.lambda))
    assert(parsed.thresholdWeight.contains(LinkageQueries.config.thresholdWeight))
    // Applied over the code base, the file reproduces the full config
    // (comparisons — expression trees — come from the base by design).
    assert(parsed.linkage(LinkageQueries.config) == LinkageQueries.config)
  }

  test("render then parse is the identity, including non-default pass fields") {
    val altPasses = Seq(
      BlockingPass("alt1", Seq("zip3", "ln1"), salt = 4,
        rightRemap = Map("first_name" -> "last_name", "last_name" -> "first_name"),
        cuts = Seq("dob_day"), weightOffset = 2.5,
        excludeComparisons = Set("geokey", "dob"),
        constGammas = Map("geokey" -> 2), ref = "geobase"),
      BlockingPass("alt2", Seq("fn1")))
    val altNoise = Seq(
      Noise.Truncate("last_name", 0.5, 4, 101),
      Noise.ShuffleCols(Seq("dob_day", "dob_month"), 0.2, 103),
      Noise.SplitCols(Seq("first_name", "last_name"), 0.1, 105),
      Noise.WrongOption("state", Seq("RI", "VT"), 0.3, 107))
    val cfg = LinkageQueries.config.copy(lambda = 0.25,
      thresholdWeight = 7.5, passes = altPasses, hhPasses = Nil)
    val parsed = ConfigFile.parse(ConfigFile.render(altNoise, cfg))
    assert(parsed.noise == altNoise)
    assert(parsed.passes == altPasses)
    assert(parsed.hhPasses.isEmpty)
    assert(parsed.lambda.contains(0.25) && parsed.thresholdWeight.contains(7.5))
    // An empty hh_passes section in the file keeps the base's (absence
    // of a section defers to code — the partial-override contract).
    assert(parsed.linkage(LinkageQueries.config).hhPasses ==
      LinkageQueries.config.hhPasses)
  }

  test("file-parsed noise interprets to the same rows as the hard-wired config") {
    graft.functions.GraftFunctions.register(spark)
    val base = People.persons(spark, sfDir).select("k", "first_name",
      "last_name", "middle_initial", "street_num", "zipcode", "state",
      "dob_day", "dob_month", "dob_year")
    val fromFile = Noise.applyConfig(base, "k",
      ConfigFile.load("config/defaults.yaml").noise)
    val hardWired = Noise.applyConfig(base, "k", RefFileQueries.veryNoisyConfig)
    assert(fromFile.except(hardWired).count() == 0 &&
      hardWired.except(fromFile).count() == 0,
      "file-driven noise diverged from the hard-wired config — q77's hash would move")
  }

  test("file-driven pipeline stages equal the default stage inventory") {
    val fileCfg = ConfigFile.load("config/defaults.yaml")
      .linkage(LinkageQueries.config)
    val defaults = Pipeline.stages.map { case (st, ts) => st -> ts.map(_._1) }
    val fromFile = Pipeline.stagesFor(fileCfg)
      .map { case (st, ts) => st -> ts.map(_._1) }
    assert(fromFile == defaults,
      "file-driven stage/artifact inventory diverged from the default")
    // A file that REORDERS or renames passes moves the artifact
    // inventory with it (the pass-keyed splink_reports follow the file).
    val renamed = fileCfg.copy(passes =
      fileCfg.passes.map(p => p.copy(name = p.name + "_v2")))
    val renamedTables = Pipeline.stagesFor(renamed).flatMap(_._2.map(_._1))
    fileCfg.passes.foreach { p =>
      assert(renamedTables.exists(_.endsWith(s"__${p.name}_v2")),
        s"renamed pass ${p.name}_v2 missing from the artifact inventory")
    }
  }

  test("a pass name that is empty or holds ',' or '/' is rejected, naming the pass") {
    def passes(names: String*): String =
      names.map(n => s"  - name: '$n'\n    keys: [zip3]\n").mkString(
        "linkage:\n  passes:\n", "", "")
    assert(ConfigFile.parse(passes("ok_1", "ok_2")).passes.map(_.name) ==
      Seq("ok_1", "ok_2"))
    Seq("a,b", "a/b", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](ConfigFile.parse(passes("ok", bad)))
      assert(e.getMessage.contains(s"pass 2 name '$bad'"), e.getMessage)
    }
    val noName = "linkage:\n  passes:\n  - keys: [zip3]\n"
    assert(intercept[IllegalArgumentException](ConfigFile.parse(noName))
      .getMessage.contains("pass 1 name ''"))
  }
}
