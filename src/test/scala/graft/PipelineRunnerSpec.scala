package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.queries.LinkageQueries

/** The persisted end-to-end runner (graft.Pipeline): stage artifacts land
  * as parquet, a re-run SKIPS completed stages, a stage missing one table
  * re-runs whole, a failed run names its failed tables and leaves a
  * directory the next run completes, and a run into a fresh directory
  * reproduces every table BYTE-IDENTICALLY (deterministic single-file
  * sorted writes) — the Snakefile-resume contract.
  */
class PipelineRunnerSpec extends SparkTestBase {

  private def partFile(dir: String): File = {
    val fs = new File(dir).listFiles()
    assert(fs != null, s"missing table dir $dir")
    val parts = fs.filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet"))
    assert(parts.length == 1, s"expected 1 part file in $dir, got ${parts.length}")
    parts.head
  }

  private val tableDirs = Pipeline.stages.flatMap { case (s, ts) =>
    ts.map { case (t, _) => s"$s/$t" }
  }

  /** A written table's rows in file order (one sorted file per table). */
  private def rows(dir: String): Seq[Row] = spark.read.parquet(dir).collect().toSeq

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One default run into a fresh directory, shared by the cases that
    * compare against a clean run.
    */
  private lazy val clean: (String, Seq[Pipeline.StageResult]) = {
    val dir = tempDir("graft_pipe_a")
    (dir, Pipeline.run(spark, sfDir, dir))
  }

  private def assertCleanRows(dir: String): Unit = tableDirs.foreach { td =>
    assert(new File(s"$dir/$td/_SUCCESS").isFile, s"no _SUCCESS in $td")
    assert(rows(s"$dir/$td") == rows(s"${clean._1}/$td"), s"$td rows differ from a clean run")
  }

  test("pipeline runner: persists stages, resume skips, fresh rerun is byte-identical") {
    val (dirA, r1) = clean
    assert(r1.map(_.stage) ==
      Seq("02_reference_files", "03_link_datasets", "04_accuracy"))
    assert(r1.forall(!_.skipped), s"first run skipped a stage: $r1")
    tableDirs.foreach { td =>
      assert(new File(s"$dirA/$td/_SUCCESS").isFile, s"no _SUCCESS in $td")
      assert(partFile(s"$dirA/$td").length() > 0, s"empty artifact $td")
    }
    // Resume: a second run over the same directory must skip every stage
    // and leave the artifacts untouched (mtime + bytes).
    val before = tableDirs.map(td => td ->
      (partFile(s"$dirA/$td").lastModified(), partFile(s"$dirA/$td").length())).toMap
    val r2 = Pipeline.run(spark, sfDir, dirA)
    assert(r2.forall(_.skipped), s"resume re-ran a complete stage: $r2")
    tableDirs.foreach { td =>
      val f = partFile(s"$dirA/$td")
      assert((f.lastModified(), f.length()) == before(td), s"resume touched $td")
    }
    // Determinism: a fresh-directory run reproduces every artifact
    // byte-for-byte (single file, fully sorted rows).
    val dirB = tempDir("graft_pipe_b")
    val r3 = Pipeline.run(spark, sfDir, dirB)
    assert(r3.forall(!_.skipped))
    tableDirs.foreach { td =>
      val a = Files.readAllBytes(partFile(s"$dirA/$td").toPath)
      val b = Files.readAllBytes(partFile(s"$dirB/$td").toPath)
      assert(java.util.Arrays.equals(a, b),
        s"$td bytes differ between runs (${a.length} vs ${b.length})")
    }
  }

  test("pipeline runner: a stage missing one _SUCCESS re-runs whole, the others are skipped") {
    val src = Path.of(clean._1)
    val dir = tempDir("graft_pipe_partial")
    Files.walk(src).iterator.asScala.foreach { p =>
      val to = Path.of(dir).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val before = tableDirs.map { td =>
      val f = partFile(s"$dir/$td")
      td -> (f.getName, f.lastModified())
    }.toMap
    assert(new File(s"$dir/03_link_datasets/pik_rate/_SUCCESS").delete())
    val r = Pipeline.run(spark, sfDir, dir)
    assert(r.map(x => x.stage -> x.skipped) == Seq("02_reference_files" -> true,
      "03_link_datasets" -> false, "04_accuracy" -> true), r)
    assert(r.filter(_.skipped).forall(_.sec == 0.0), r)
    tableDirs.foreach { td =>
      val f = partFile(s"$dir/$td")
      // A rewrite names its part file after the new write job.
      if (td.startsWith("03_link_datasets/"))
        assert(f.getName != before(td)._1, s"$td was not rewritten")
      else assert((f.getName, f.lastModified()) == before(td), s"$td was touched")
    }
    assertCleanRows(dir)
  }

  test("pipeline runner: a failing table fails the run naming it; a default re-run completes") {
    val cfg = LinkageQueries.config
    val p1 = cfg.passes.head
    val broken = cfg.copy(passes = p1.copy(ref = "nowhere") +: cfg.passes.tail)
    val failed = s"03_link_datasets/splink_reports/nowhere__${p1.name}"
    val dir = tempDir("graft_pipe_failed")
    val e = intercept[RuntimeException](Pipeline.run(spark, sfDir, dir, cfg = broken))
    assert(e.getMessage.startsWith("Par.all(pipeline): "), e.getMessage)
    assert(e.getMessage.contains(s"$failed failed"), e.getMessage)
    assert(e.getCause.getMessage.contains(
      s"pass ${p1.name} searches reference frame 'nowhere'"), e.getCause)
    assert(!new File(s"$dir/$failed/_SUCCESS").isFile)
    val r = Pipeline.run(spark, sfDir, dir)
    assert(r.exists(!_.skipped), r)
    assertCleanRows(dir)
  }
}
