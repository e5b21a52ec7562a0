package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import graft.linkage.{BlockingPass, LinkageConfig}
import graft.operators.Noise

/** The config-as-file surface (reference parity: `config/defaults.yaml`
  * drives the reference's run shape and a pseudopeople noise YAML drives
  * its noise — graft's `config/defaults.yaml` renders the SAME defaults
  * the code hard-wires, and parsing it back yields structurally equal
  * `Seq[NoiseOp]` / `LinkageConfig` values, spec-pinned).
  *
  * Scope: the file owns the DATA of a run — noise entries, the blocking
  * pass list (every BlockingPass field), lambda and the predict
  * threshold. Comparisons stay code (they are Catalyst expression trees;
  * the file references them BY NAME in `exclude_comparisons`, exactly
  * like the reference's settings dict references Splink comparison
  * templates by name). Parsing uses the Jackson YAML support Spark
  * already ships — no new dependency.
  */
object ConfigFile {

  final case class Parsed(noise: Seq[Noise.NoiseOp],
      passes: Seq[BlockingPass], hhPasses: Seq[BlockingPass],
      lambda: Option[Double], thresholdWeight: Option[Double]) {
    /** The file's linkage surface applied over a code base config (the
      * comparisons — expression trees — always come from the base).
      */
    def linkage(base: LinkageConfig): LinkageConfig = base.copy(
      lambda = lambda.getOrElse(base.lambda),
      thresholdWeight = thresholdWeight.getOrElse(base.thresholdWeight),
      passes = if (passes.nonEmpty) passes else base.passes,
      hhPasses = if (hhPasses.nonEmpty) hhPasses else base.hhPasses)
  }

  private def mapper = new ObjectMapper(new YAMLFactory())

  def load(path: String): Parsed =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  def parse(yaml: String): Parsed = {
    val root = mapper.readTree(yaml)
    val noise = Option(root.get("noise")).map(parseNoise).getOrElse(Nil)
    val link = Option(root.get("linkage"))
    val passes = link.flatMap(l => Option(l.get("passes")))
      .map(parsePasses).getOrElse(Nil)
    val hh = link.flatMap(l => Option(l.get("hh_passes")))
      .map(parsePasses).getOrElse(Nil)
    Parsed(noise, passes, hh,
      link.flatMap(l => Option(l.get("lambda"))).map(_.asDouble),
      link.flatMap(l => Option(l.get("threshold_weight"))).map(_.asDouble))
  }

  private def strings(n: JsonNode): Seq[String] =
    n.elements.asScala.map(_.asText).toSeq

  private def strMap(n: JsonNode): Map[String, String] =
    n.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap

  private def parseNoise(n: JsonNode): Seq[Noise.NoiseOp] =
    n.elements.asScala.map { e =>
      def s(k: String) = e.get(k).asText
      def d(k: String) = e.get(k).asDouble
      def i(k: String) = e.get(k).asInt
      e.get("op").asText match {
        case "make_typos" =>
          Noise.MakeTypos(s("column"), d("cell_probability"),
            d("token_probability"), i("seed"))
        case "wrong_digits" =>
          Noise.WrongDigits(s("column"), d("cell_probability"),
            d("token_probability"), i("seed"))
        case "swap_cols" =>
          Noise.SwapCols(s("c1"), s("c2"), d("row_probability"), i("seed"))
        case "perturb_int" =>
          Noise.PerturbIntOp(s("column"), d("cell_probability"),
            e.get("deltas").elements.asScala.map(_.asInt).toSeq, i("seed"))
        case "blank" =>
          Noise.Blank(s("column"), d("cell_probability"), i("seed"))
        case "wrong_option" =>
          Noise.WrongOption(s("column"), strings(e.get("domain")),
            d("cell_probability"), i("seed"))
        case "truncate" =>
          Noise.Truncate(s("column"), d("cell_probability"), i("len"), i("seed"))
        case "shuffle_cols" =>
          Noise.ShuffleCols(strings(e.get("cols")), d("row_probability"), i("seed"))
        case "split_cols" =>
          Noise.SplitCols(strings(e.get("cols")), d("row_probability"), i("seed"))
        case "omit_rows" =>
          Noise.OmitRows(d("row_probability"), i("seed"))
        case other => throw new IllegalArgumentException(s"unknown noise op: $other")
      }
    }.toSeq

  /** A pass name becomes part of a table path
    * (`splink_reports/<ref>__<name>`) and of a Spark job tag, which may not
    * hold a comma: it must be non-empty, with no `,` or `/`.
    */
  private def parsePasses(n: JsonNode): Seq[BlockingPass] =
    n.elements.asScala.zipWithIndex.map { case (e, i) =>
      def opt(k: String): Option[JsonNode] = Option(e.get(k))
      val name = opt("name").map(_.asText).getOrElse("")
      require(name.nonEmpty && !name.exists(",/".contains(_)),
        s"pass ${i + 1} name '$name' must be non-empty, with no ',' or '/'")
      BlockingPass(
        name = name,
        keys = strings(e.get("keys")),
        salt = opt("salt").map(_.asInt).getOrElse(1),
        rightRemap = opt("right_remap").map(strMap).getOrElse(Map.empty),
        cuts = opt("cuts").map(strings).getOrElse(Nil),
        weightOffset = opt("weight_offset").map(_.asDouble).getOrElse(0.0),
        excludeComparisons =
          opt("exclude_comparisons").map(strings(_).toSet).getOrElse(Set.empty),
        constGammas = opt("const_gammas")
          .map(_.properties.asScala.map(p => p.getKey -> p.getValue.asInt).toMap)
          .getOrElse(Map.empty),
        ref = opt("ref").map(_.asText).getOrElse("census"))
    }.toSeq

  /** Render a (noise, linkage) configuration to YAML — the generator of
    * the checked-in `config/defaults.yaml`, and the round-trip partner
    * the spec pins (`parse(render(x)) == x`). Field order is fixed so
    * re-renders diff cleanly.
    */
  def render(noise: Seq[Noise.NoiseOp], cfg: LinkageConfig): String = {
    val m = mapper
    val root = m.createObjectNode()
    val narr = root.putArray("noise")
    noise.foreach(op => renderNoise(narr.addObject(), op))
    val link = root.putObject("linkage")
    link.put("lambda", cfg.lambda)
    link.put("threshold_weight", cfg.thresholdWeight)
    renderPasses(link.putArray("passes"), cfg.passes)
    renderPasses(link.putArray("hh_passes"), cfg.hhPasses)
    m.writeValueAsString(root)
  }

  private def renderNoise(o: ObjectNode, op: Noise.NoiseOp): Unit = op match {
    case Noise.MakeTypos(c, cp, tp, s) =>
      o.put("op", "make_typos").put("column", c)
        .put("cell_probability", cp).put("token_probability", tp).put("seed", s)
      ()
    case Noise.WrongDigits(c, cp, tp, s) =>
      o.put("op", "wrong_digits").put("column", c)
        .put("cell_probability", cp).put("token_probability", tp).put("seed", s)
      ()
    case Noise.SwapCols(c1, c2, rp, s) =>
      o.put("op", "swap_cols").put("c1", c1).put("c2", c2)
        .put("row_probability", rp).put("seed", s)
      ()
    case Noise.PerturbIntOp(c, cp, ds, s) =>
      o.put("op", "perturb_int").put("column", c).put("cell_probability", cp)
      val a = o.putArray("deltas"); ds.foreach(a.add); o.put("seed", s)
      ()
    case Noise.Blank(c, cp, s) =>
      o.put("op", "blank").put("column", c)
        .put("cell_probability", cp).put("seed", s)
      ()
    case Noise.WrongOption(c, dom, cp, s) =>
      o.put("op", "wrong_option").put("column", c)
      val a = o.putArray("domain"); dom.foreach(a.add)
      o.put("cell_probability", cp).put("seed", s)
      ()
    case Noise.Truncate(c, cp, l, s) =>
      o.put("op", "truncate").put("column", c)
        .put("cell_probability", cp).put("len", l).put("seed", s)
      ()
    case Noise.ShuffleCols(cs, rp, s) =>
      o.put("op", "shuffle_cols")
      val a = o.putArray("cols"); cs.foreach(a.add)
      o.put("row_probability", rp).put("seed", s)
      ()
    case Noise.SplitCols(cs, rp, s) =>
      o.put("op", "split_cols")
      val a = o.putArray("cols"); cs.foreach(a.add)
      o.put("row_probability", rp).put("seed", s)
      ()
    case Noise.OmitRows(rp, s) =>
      o.put("op", "omit_rows").put("row_probability", rp).put("seed", s)
      ()
  }

  /** Re-render the checked-in defaults file from the code defaults:
    * `runMain graft.sources.ConfigFile [path]` (default
    * `config/defaults.yaml`). Run after changing the hard-wired noise or
    * pass list so file and code cannot drift — the round-trip spec fails
    * until they agree.
    */
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("config/defaults.yaml")
    val yaml = render(graft.queries.RefFileQueries.veryNoisyConfig,
      graft.queries.LinkageQueries.config)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), yaml)
    println(s"[config] wrote $path (${yaml.length} chars)")
  }

  private def renderPasses(arr: ArrayNode, ps: Seq[BlockingPass]): Unit =
    ps.foreach { p =>
      val o = arr.addObject()
      o.put("name", p.name)
      val ks = o.putArray("keys"); p.keys.foreach(ks.add)
      if (p.salt != 1) { o.put("salt", p.salt); () }
      if (p.rightRemap.nonEmpty) {
        val r = o.putObject("right_remap")
        p.rightRemap.toSeq.sortBy(_._1).foreach { case (k, v) => r.put(k, v) }
      }
      if (p.cuts.nonEmpty) { val c = o.putArray("cuts"); p.cuts.foreach(c.add) }
      if (p.weightOffset != 0.0) { o.put("weight_offset", p.weightOffset); () }
      if (p.excludeComparisons.nonEmpty) {
        val x = o.putArray("exclude_comparisons")
        p.excludeComparisons.toSeq.sorted.foreach(x.add)
      }
      if (p.constGammas.nonEmpty) {
        val g = o.putObject("const_gammas")
        p.constGammas.toSeq.sortBy(_._1).foreach { case (k, v) => g.put(k, v) }
      }
      if (p.ref != "census") { o.put("ref", p.ref); () }
    }
}
