package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** End-to-end PERSISTED pipeline runner — the reference's Snakefile shape
  * (its case study is a DAG of persisted stage artifacts: 02 reference
  * files → 03 linked datasets → 04 accuracy tables, each stage read from
  * disk by the next and SKIPPED on re-run when its outputs exist). graft
  * has every stage as queries/APIs; this main materializes them as
  * parquet stage artifacts with the same resume semantics:
  *
  *   runMain graft.Pipeline <sfDir> <outDir>
  *
  * A stage is COMPLETE when every one of its tables has a parquet
  * `_SUCCESS` marker under `outDir/<stage>/<table>`; complete stages are
  * skipped wholesale (a partially-written stage — crash mid-stage —
  * re-runs whole, so no table can pair with a stale sibling). Writes are
  * single-file with rows fully sorted, so every run produces the same
  * ROWS in the same order — the property that makes persisted artifacts
  * diffable across runs and the resume semantics trustworthy. Bytes are
  * identical only within one session: across JVMs the parquet footer's
  * per-column-chunk encoding lists can list the same encodings in a
  * different order, so compare artifacts by rows, not by file hash.
  */
object Pipeline {

  /** One stage: name → (table name → frame builder). Stage order is the
    * reference's notebook order; tables within a stage are independent.
    */
  def stages: Seq[(String, Seq[(String, (SparkSession, String) => DataFrame)])] =
    stagesFor(graft.queries.LinkageQueries.config)

  /** [[stages]] driven by an explicit linkage config (the config-as-file
    * surface: `main` parses an optional YAML path via
    * [[graft.sources.ConfigFile]] and the pass-keyed artifacts — the
    * per-pass splink_reports inventory, the EM training config — follow
    * the FILE's pass list; PipelineRunnerSpec pins that the default file
    * reproduces the hard-wired stages exactly).
    */
  def stagesFor(cfg: graft.linkage.LinkageConfig)
      : Seq[(String, Seq[(String, (SparkSession, String) => DataFrame)])] = {
    def q(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)
    // Per-pass model-report artifact (the reference persists a Splink
    // HTML report per cascade pass under diagnostics/splink_reports/
    // <module>__<pass>.html; its 03 notebook calls match_weights_chart /
    // m_u_parameters_chart per pass): the model's per-(comparison,
    // gamma) m/u/Bayes-factor/weight rows (q75) scoped by the pass's
    // own scoring configuration (q76 — scored flag, blocking-implied
    // constant gammas, weight offset), one artifact per pass. Both
    // inputs are memoized O(model)-sized frames, so the 15 artifacts
    // cost 15 tiny broadcast joins, not 15 cascade runs.
    def passReport(passName: String): (SparkSession, String) => DataFrame =
      (s, d) => q("q75_model_report")(s, d)
        .join(q("q76_pass_matrix")(s, d)
          .filter(col("pass") === passName)
          .select(col("pass"), col("ordinal"), col("ref_file"),
            col("block_keys"), col("comparison"), col("scored"),
            col("const_gamma"), col("weight_offset")), Seq("comparison"))
    val passReports: Seq[(String, (SparkSession, String) => DataFrame)] = {
      val allPasses = cfg.passes ++ cfg.hhPasses
      // The artifact list keys on pass NAME (the q76 `pass` column and
      // the hhPasses membership test) — a future pass whose name
      // collides across the two lists would silently merge or mislabel
      // report artifacts. Fail the stage build instead.
      locally {
        val dups = allPasses.groupBy(_.name).collect {
          case (n, ps) if ps.size > 1 => n
        }
        require(dups.isEmpty,
          s"pass names must be unique across passes ++ hhPasses: ${dups.mkString(", ")}")
      }
      allPasses.map { p =>
        val refFile =
          if (cfg.hhPasses.contains(p)) "hhcomp" else p.ref
        s"splink_reports/${refFile}__${p.name}" -> passReport(p.name)
      }
    }
    Seq(
      "02_reference_files" -> Seq(
        "alternate_names" -> q("q71_alternate_names"),
        "name_dob_reference" -> q("q72_name_dob_reference"),
        "ssn_to_pik" -> q("q73_ssn_to_pik"),
        "geobase_reference" -> q("q117_geobase_reference"),
        "addresses_by_ssn" -> q("q121_addresses_by_ssn")),
      "03_link_datasets" -> (Seq(
        "best_links" -> q("q32_cascade_best_link"),
        "confirmed_links" -> q("q37_confirm_links"),
        "pass_matrix" -> q("q76_pass_matrix"),
        "pik_rate" -> q("q39_pik_rate"),
        // Splink-style training accounting (the "EM converged in N
        // iterations" line a production model report carries): one row
        // per training session, from the tolerance-stopping trainer.
        "em_report" -> ((s: SparkSession, d: String) => {
          import graft.linkage.LinkageCascade
          val (_, reports) = LinkageCascade.emTrain(
            graft.queries.LinkageQueries.emHistograms(s, d), cfg,
            iterations = 25, tol = LinkageCascade.DefaultEmTol)
          s.createDataFrame(reports.map(r => (r.blockKeys.mkString("+"),
              r.iterations, r.converged,
              BigDecimal(r.maxDelta).setScale(9, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)))
            .toDF("session", "iterations", "converged", "max_delta")
        })) ++ passReports ++ Seq(
        // The global chart-data tables the reference's per-pass HTML
        // reports render (waterfall rows, distinct comparison patterns,
        // weight histogram, the EM m-trajectory and the Splink
        // parameter_estimate_comparisons data) — computed once over the
        // memoized demo-blocking scored frame.
        "splink_reports/waterfall" -> q("q87_waterfall"),
        "splink_reports/comparison_patterns" -> q("q88_comparison_patterns"),
        "splink_reports/weight_histogram" -> q("q93_weight_histogram"),
        "splink_reports/em_history" -> q("q105_em_history"),
        "splink_reports/param_compare" -> q("q107_param_compare"))),
      "04_accuracy" -> Seq(
        "accuracy_eval" -> q("q33_accuracy_eval"),
        "accuracy_by_module" -> q("q112_accuracy_by_module"),
        "accuracy_definitions" -> q("q120_accuracy_definitions")))
  }

  /** One stage's outcome: each table with the seconds it took to build
    * and write (0 when the stage was skipped), and the stage's seconds.
    */
  case class StageResult(stage: String, tables: Seq[(String, Double)],
      skipped: Boolean, sec: Double)

  /** Run (or resume) the pipeline; returns per-stage results. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      cfg: graft.linkage.LinkageConfig = graft.queries.LinkageQueries.config)
      : Seq[StageResult] =
    stagesFor(cfg).map { case (stage, tables) =>
      val t0 = System.nanoTime()
      val complete = tables.forall { case (t, _) =>
        new java.io.File(s"$outDir/$stage/$t/_SUCCESS").isFile
      }
      val timed = tables.map { case (t, fn) =>
        if (complete) t -> 0.0
        else {
          val t1 = System.nanoTime()
          val df = fn(spark, sfDir)
          // Deterministic artifact: one file, rows in full column order —
          // row-identical across runs on the same input, byte-identical
          // within one session (the spec pins this); see the object doc.
          df.coalesce(1).sortWithinPartitions(df.columns.map(col): _*)
            .write.mode("overwrite").parquet(s"$outDir/$stage/$t")
          t -> (System.nanoTime() - t1) / 1e9
        }
      }
      StageResult(stage, timed, skipped = complete, (System.nanoTime() - t0) / 1e9)
    }

  /** `runMain graft.Pipeline <sfDir> <outDir> [config.yaml]` — the
    * optional third argument is the config-as-file surface
    * ([[graft.sources.ConfigFile]]): its linkage section (pass list,
    * lambda, threshold) drives the pass-keyed stage artifacts; omitted,
    * the hard-wired defaults apply (and `config/defaults.yaml` parses to
    * exactly those, spec-pinned). Each written stage's line is followed by
    * one line per table with its seconds (the memo builds it triggers
    * included); after the stages it prints one line per registered
    * [[Memo]]: its builds, hits and own build seconds.
    */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val cfg = args.drop(2).headOption
      .map(p => graft.sources.ConfigFile.load(p)
        .linkage(graft.queries.LinkageQueries.config))
      .getOrElse(graft.queries.LinkageQueries.config)
    // Shared session recipe (GraftSession): local dev defaults here, a
    // spark-submit --master/--conf wins.
    val spark = GraftSession.builder("graft-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, cfg = cfg).foreach { r =>
      val verb = if (r.skipped) "skipped (complete)" else f"wrote in ${r.sec}%.1f s"
      println(s"[pipeline] ${r.stage}: ${r.tables.map(_._1).mkString(", ")} — $verb")
      if (!r.skipped) r.tables.foreach { case (t, sec) =>
        println(f"[pipeline]   table ${r.stage}/$t: $sec%.2f s")
      }
    }
    Memo.registered.foreach { m =>
      println(f"[pipeline] memo ${m.name}: builds=${m.builds} hits=${m.hits} " +
        f"own_s=${m.buildSeconds}%.2f")
    }
    spark.stop()
  }
}
