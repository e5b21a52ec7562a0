package graft.linkage

import graft.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One blocked predict pass: equi-join on derived key columns that exist
  * (same-named) on both sides. Keys are plain columns so the join is a
  * shuffle-on-key hash join Catalyst can plan freely; `salt > 1` splits
  * skewed blocks the way the reference's salting_partitions does
  * (/root/reference/03_link_datasets.ipynb `salting_partitions`).
  *
  * `rightRemap` renames right-side columns before pairing — the PVS
  * "name-switch" passes (reference geosearch: "geokey+name-switch") score
  * first-vs-last to recover records with transposed names; e.g.
  * Map("first_name" -> "last_name", "last_name" -> "first_name").
  */
final case class BlockingPass(name: String, keys: Seq[String], salt: Int = 1,
    rightRemap: Map[String, String] = Map.empty,
    cuts: Seq[String] = Nil,
    weightOffset: Double = 0.0,
    excludeComparisons: Set[String] = Set.empty,
    constGammas: Map[String, Int] = Map.empty,
    ref: String = "census") {
  /** Blocking keys with the module's cut columns appended (the reference
    * composes cut_columns into every pass's blocking rule via start_module;
    * 03_link_datasets.ipynb cells 83/101/114).
    */
  def blockKeys: Seq[String] = keys ++ cuts

  /** The comparisons this pass scores: each reference module declares its
    * own matching_columns subset of the full Splink settings (cells
    * 83/101/114/138 — only geosearch scores geokey).
    */
  def comparisonsFor(cfg: LinkageConfig): Seq[Comparison] =
    cfg.comparisons.filterNot(c => excludeComparisons.contains(c.name))
}

/** `lambda` is the fixed prior used by EM training (the reference fixes the
  * prior during EM, fix_probability_two_random_records_match=True); the
  * data-estimated prior for posterior probabilities comes from
  * [[LinkageCascade.estimateLambda]]. `hhPasses` run after `passes` against
  * the household-composition reference file (reference hhcompsearch).
  */
final case class LinkageConfig(
    comparisons: Seq[Comparison],
    lambda: Double,
    thresholdWeight: Double,
    passes: Seq[BlockingPass],
    hhPasses: Seq[BlockingPass] = Nil)

/** The PVS-style cascade (reference 03_link_datasets.ipynb "Searching":
  * modules → passes; each pass anti-joins already-linked records, blocks,
  * scores, thresholds; post-search keeps one unambiguous best link per
  * input record).
  *
  * Scale shape per pass: one shuffle join on the block keys + codegen'd
  * scalar scoring + one window over rec_id. The fold's first-pass window
  * is a shuffle on rec_id over the link frames only. Nothing is collected
  * to the driver.
  */
object LinkageCascade {

  private def prefixed(df: DataFrame, p: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"$p$c")): _*)

  /** The input side as a pass sees it: `rightRemap` applied. */
  private def remapped(input: DataFrame, pass: BlockingPass): DataFrame =
    if (pass.rightRemap.isEmpty) input
    else input.select(input.columns.map(c =>
      col(pass.rightRemap.getOrElse(c, c)).as(c)): _*)

  /** Per-block side counts of a pass: (block keys…, n_census, n_input)
    * for every block key present on both sides; rows with a null block
    * key are excluded exactly like the pass's equi-join excludes them.
    */
  private def blockSizes(census: DataFrame, input: DataFrame,
      pass: BlockingPass): DataFrame = {
    val keys = pass.blockKeys
    def sized(df: DataFrame, n: String): DataFrame =
      df.na.drop(keys).groupBy(keys.map(col): _*).agg(count(lit(1)).as(n))
    sized(census, "n_census").join(sized(remapped(input, pass), "n_input"), keys)
  }

  /** Candidate pairs for a pass: equi-join census × input on block keys.
    * When `salt > 1`, both sides get a salt column derived from the
    * join-side row key so one oversized block fans out over `salt`
    * reducers; correctness is unchanged because the salt is derived from
    * the block key + a hash of the left row id (joined against all salts).
    */
  def pairs(census: DataFrame, input: DataFrame, pass: BlockingPass): DataFrame = {
    val l = prefixed(census, "l_")
    val r = prefixed(remapped(input, pass), "r_")
    val cond = pass.blockKeys.map(k => col(s"l_$k") === col(s"r_$k")).reduce(_ && _)
    if (pass.salt <= 1) l.join(r, cond)
    else {
      // Left rows take one deterministic salt; right rows replicate to all.
      val ls = l.withColumn("salt", pmod(hash(col("l_pik")), lit(pass.salt)))
      val rs = r.withColumn("salt", explode(sequence(lit(0), lit(pass.salt - 1))))
      ls.join(rs, cond && (ls("salt") === rs("salt"))).drop("salt")
    }
  }

  /** Adds gamma_* columns and match_weight to a prefixed pair frame.
    * `constGammas` pins a comparison's gamma to a literal level for passes
    * whose blocking already implies it (a pass blocked on geokey equality
    * never needs the geokey JW evaluated — the gamma is the exact level by
    * construction), eliminating the dominant per-pair scalar in those
    * passes.
    */
  def score(pairsDf: DataFrame, cfg: LinkageConfig): DataFrame =
    score(pairsDf, cfg.comparisons)

  def score(pairsDf: DataFrame, comparisons: Seq[Comparison],
      constGammas: Map[String, Int] = Map.empty): DataFrame = {
    // One projection for every gamma: a withColumn per comparison would
    // re-analyze the whole pair plan once each.
    val gammas = comparisons.map(c => constGammas.get(c.name).map(g => lit(g))
      .getOrElse(FellegiSunter.gammaCol(c)).as(c.gammaName))
    pairsDf.select(col("*") +: gammas: _*)
      .withColumn("match_weight", FellegiSunter.matchWeightCol(comparisons))
  }

  /** Post-search resolution (reference "post-search confirm" cells): keep
    * each input record's max-weight links, dropping records whose top
    * weight spans MORE THAN ONE DISTINCT candidate PIK (ambiguous, PVS's
    * multi-PIK drop — ties that all point at the SAME pik are kept and
    * deduped to one row, like the reference's one-PIK-per-record dedupe).
    * Expects the (pik, rec_id, match_weight) projection.
    */
  def bestLink(scored: DataFrame): DataFrame = {
    val byRec = Window.partitionBy("rec_id")
    scored
      .withColumn("w_max", max("match_weight").over(byRec))
      .filter(col("match_weight") === col("w_max"))
      .withColumn("n_piks", size(collect_set("pik").over(byRec)))
      .filter(col("n_piks") === 1)
      .drop("w_max", "n_piks")
      .dropDuplicates(Seq("rec_id"))
  }

  /** One pass's thresholded candidate links: block → score (+ the pass's
    * fixed weight offset, e.g. hhcompsearch's bayes_factor_cut_columns=
    * 1000) → threshold, projected to (pik, rec_id, match_weight). No
    * window, so it also runs over a stream in append mode; resolve per
    * micro-batch with [[bestLink]].
    */
  def scoredLinks(census: DataFrame, input: DataFrame, pass: BlockingPass,
      cfg: LinkageConfig): DataFrame = {
    val scored = score(pairs(census, input, pass), pass.comparisonsFor(cfg), pass.constGammas)
    val offset =
      if (pass.weightOffset == 0.0) scored
      else scored.withColumn("match_weight", col("match_weight") + lit(pass.weightOffset))
    offset
      .filter(col("match_weight") >= cfg.thresholdWeight)
      .select(col("l_pik").as("pik"), col("r_rec_id").as("rec_id"), col("match_weight"))
  }

  /** One full predict pass: [[scoredLinks]] resolved by [[bestLink]]. */
  def predict(census: DataFrame, input: DataFrame, pass: BlockingPass, cfg: LinkageConfig): DataFrame =
    bestLink(scoredLinks(census, input, pass, cfg))

  /** The cascade fold: passes run in order and a record keeps the link of
    * the FIRST pass that links it (each pass skips what earlier passes
    * linked).
    *
    * Every pass predicts against the WHOLE input, all passes submitted at
    * once through [[graft.Par]], each link frame tagged with its pass and
    * ordinal and `localCheckpoint`ed (ids + weight, KB-scale); the fold
    * then keeps, per rec_id, the row with the minimum ordinal. This is
    * EXACTLY the sequential anti-join cascade: records are independent
    * through a pass (each record's candidates, threshold and best-link
    * window condition only on its own rec_id — the property
    * [[mainPasses]] documents and StreamingSpec pins), so
    * predict(pass, r ∖ L) ≡ predict(pass, r) filtered to rec_id ∉ L, and
    * the minimum ordinal applies that filter for every pass at once. The
    * price is that a pass scores the candidates of records an earlier
    * pass already linked (q78's per-pass pair counts against the full
    * input); the gain is no sequential barrier between passes, whose
    * per-pass wall is stage latency, not compute. Separate `Par` tasks
    * (not one union plan) keep the 13 plans' analysis concurrent too.
    */
  private[graft] def foldPasses(
      refs: Map[String, DataFrame],
      input: DataFrame,
      passes: Seq[BlockingPass],
      cfg: LinkageConfig): DataFrame = {
    val predicted = Par.all(input.sparkSession, "cascade",
      passes.zipWithIndex.map { case (pass, ordinal) =>
        pass.name -> { () =>
          val census = refs.getOrElse(pass.ref, throw new IllegalArgumentException(
            s"pass ${pass.name} searches reference frame '${pass.ref}' but run() " +
              s"was given only ${refs.keys.mkString(", ")}"))
          predict(census, input, pass, cfg)
            .select(col("*"), lit(pass.name).as("pass"), lit(ordinal).as("ordinal"))
            .localCheckpoint()
        }
      })
    predicted.reduce(_ unionByName _)
      .withColumn("first", row_number().over(
        Window.partitionBy("rec_id").orderBy("ordinal")))
      .filter(col("first") === 1)
      .drop("first", "ordinal")
  }

  /** Per-block cost report for a pass: each block key's side counts and
    * the implied candidate-pair count, heaviest first — the pre-flight
    * that decides which passes need `salt` (or a blocking redesign)
    * BEFORE a 100 TB run, instead of discovering the straggler reducer
    * mid-job. One aggregate per side + an equi-join on the keys; rows
    * with a null block key are excluded exactly like the pass's equi-join
    * excludes them.
    */
  def blockSkewReport(census: DataFrame, input: DataFrame, pass: BlockingPass,
      topN: Int = 20): DataFrame =
    blockSizes(census, input, pass)
      .withColumn("n_pairs", col("n_census") * col("n_input"))
      .orderBy((col("n_pairs").desc +: pass.blockKeys.map(col(_).asc)): _*)
      .limit(topN)

  /** One-row whole-pass cost summary: total candidate pairs the pass
    * would generate against the full input, block count, and the largest
    * single block's pair count (the straggler bound). Splink's
    * count_comparisons pre-flight, shaped for unioning across a cascade:
    * run this over every pass BEFORE committing cluster hours, and
    * compare max_block_pairs against what one reducer can score.
    */
  def blockCostSummary(census: DataFrame, input: DataFrame,
      pass: BlockingPass): DataFrame =
    blockSizes(census, input, pass)
      .select((col("n_census") * col("n_input")).as("n_pairs"))
      .agg(
        coalesce(sum("n_pairs"), lit(0L)).as("n_pairs"),
        count(lit(1)).as("n_blocks"),
        coalesce(max("n_pairs"), lit(0L)).as("max_block_pairs"))

  /** [[blockCostSummary]] for a whole cascade in ONE scan and ONE
    * shuffle per side: each row emits an array entry per pass whose block
    * keys are all present — (pass, ordinal, key-tuple) — explode, group,
    * join, aggregate. 13 passes cost the same 2 scans + 3 shuffles as 1
    * pass, and the plan holds at any pass count. Key tuples join their
    * columns with a \u0001 separator (absent from the data) so composite
    * keys cannot collide. Name-switch passes resolve their keys through
    * the pass's rightRemap instead of re-projecting the whole frame.
    */
  def blockCostSummaryAll(census: DataFrame, input: DataFrame,
      passList: Seq[BlockingPass]): DataFrame =
    blockCostSummaryAll(
      (passList.map(_.ref).toSet + "census").map(_ -> census).toMap,
      input, passList)

  /** Per-reference-frame variant: each pass's census-side counts come from
    * `refs(pass.ref)` (the frame the cascade will actually search). One
    * scan per DISTINCT ref frame + one input scan — the pass count still
    * doesn't multiply the scans.
    */
  def blockCostSummaryAll(refs: Map[String, DataFrame], input: DataFrame,
      passList: Seq[BlockingPass]): DataFrame = {
    val spark = input.sparkSession
    val sep = "\u0001"
    val withOrd = passList.zipWithIndex.map { case (p, i) => (p, i + 1) }
    def keyEntries(subset: Seq[(BlockingPass, Int)], applyRemap: Boolean): Column = array(
      subset.map { case (p, ord) =>
        val srcCols = p.blockKeys.map { k =>
          if (applyRemap) col(p.rightRemap.getOrElse(k, k)) else col(k)
        }
        val anyNull = srcCols.map(_.isNull).reduce(_ || _)
        when(anyNull, lit(null)).otherwise(struct(
          lit(p.name).as("pass"), lit(ord).as("ordinal"),
          concat_ws(sep, srcCols.map(_.cast("string")): _*).as("bkey")))
      }: _*)
    def grouped(df: DataFrame, subset: Seq[(BlockingPass, Int)],
        applyRemap: Boolean, outName: String): DataFrame =
      df.select(explode(keyEntries(subset, applyRemap)).as("e"))
        .filter(col("e").isNotNull)
        .select(col("e.pass").as("pass"), col("e.ordinal").as("ordinal"),
          col("e.bkey").as("bkey"))
        .groupBy("pass", "ordinal", "bkey").agg(count(lit(1)).as(outName))
    val censusGrouped = withOrd.groupBy(_._1.ref).toSeq.map {
      case (ref, subset) =>
        val frame = refs.getOrElse(ref, throw new IllegalArgumentException(
          s"passes ${subset.map(_._1.name).mkString(", ")} search '$ref' " +
            s"but refs has only ${refs.keys.mkString(", ")}"))
        grouped(frame, subset, applyRemap = false, "n_census")
    }.reduceOption(_ unionByName _)
    // A pass whose blocking matches nothing still reports a zero row
    // (left join from the O(passes) literal pass list); an EMPTY pass
    // list returns the same zero-row-per-pass frame with no jobs run.
    val allRows = passList.zipWithIndex.map { case (p, i) => (p.name, i + 1) }
    val passRows = spark.createDataFrame(allRows).toDF("pass", "ordinal")
    censusGrouped.fold(
      passRows.withColumn("n_pairs", lit(0L))
        .withColumn("n_blocks", lit(0L))
        .withColumn("max_block_pairs", lit(0L))) { cg =>
      val joined = cg
        .join(grouped(input, withOrd, applyRemap = true, "n_input"),
          Seq("pass", "ordinal", "bkey"))
        .select(col("pass"), col("ordinal"),
          (col("n_census") * col("n_input")).as("pairs"))
        .groupBy("pass", "ordinal")
        .agg(
          sum("pairs").as("n_pairs"),
          count(lit(1)).as("n_blocks"),
          max("pairs").as("max_block_pairs"))
      passRows
        .join(joined, Seq("pass", "ordinal"), "left")
        .select(col("pass"), col("ordinal"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
          coalesce(col("max_block_pairs"), lit(0L)).as("max_block_pairs"))
    }
  }

  /** Pre-flight → action: re-writes the pass list with `salt` set wherever
    * the largest single block exceeds what one reducer should score
    * (`maxBlockPairs`). The salt fans the oversized block over
    * ceil(max/budget) reducers, capped at `maxSalt`; passes under budget
    * are returned untouched, and [[pairs]] guarantees salted and unsalted
    * blocking produce identical candidate pairs. Run once per dataset
    * shape — the one summary job prices all passes (one scan per side).
    */
  def autoSalt(census: DataFrame, input: DataFrame,
      passList: Seq[BlockingPass], maxBlockPairs: Long = 100000000L,
      maxSalt: Int = 32): Seq[BlockingPass] =
    autoSalt((passList.map(_.ref).toSet + "census").map(_ -> census).toMap,
      input, passList, maxBlockPairs, maxSalt)

  /** [[autoSalt]] against each pass's own reference frame — the pre-flight
    * that prices the reference-file cascade exactly as it will run.
    */
  def autoSalt(refs: Map[String, DataFrame], input: DataFrame,
      passList: Seq[BlockingPass], maxBlockPairs: Long,
      maxSalt: Int): Seq[BlockingPass] = {
    require(maxBlockPairs > 0, s"maxBlockPairs must be positive: $maxBlockPairs")
    val worst = blockCostSummaryAll(refs, input, passList).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("max_block_pairs")).toMap
    passList.map { p =>
      val mx = worst.getOrElse(p.name, 0L)
      if (mx <= maxBlockPairs) p
      else p.copy(salt = math.min(maxSalt.toLong,
        (mx + maxBlockPairs - 1) / maxBlockPairs).toInt)
    }
  }

  /** The hhcompsearch reference file (reference cells 126-138): bridge each
    * input-side pseudo-household (its `geokey_blk`) through its already-
    * linked members' PIKs to the census-side addresses of those PIKs, then
    * take the UNLINKED census records at those addresses, tagged with the
    * input household key they are candidates for. GQ records never enter
    * (their geokey_blk is NULL — the reference excludes GQ "so it isn't
    * used ... nor for HHCompSearch").
    *
    * Scale shape: the bridge is two equi-joins over the (small) link set;
    * the candidate join is an equi-join on geokey. No cross products.
    */
  def hhcompReference(census: DataFrame, input: DataFrame, links: DataFrame): DataFrame = {
    val bridge = links.select("pik", "rec_id")
      .join(
        input.filter(col("geokey_blk").isNotNull)
          .select(col("rec_id"), col("geokey_blk").as("hh_geokey")),
        Seq("rec_id"))
      .join(
        census.filter(col("geokey_blk").isNotNull)
          .select(col("pik"), col("geokey_blk").as("ref_geokey")),
        Seq("pik"))
      .select("hh_geokey", "ref_geokey")
      .distinct()
    census.filter(col("geokey_blk").isNotNull)
      .join(links.select("pik").distinct(), Seq("pik"), "left_anti")
      .join(bridge, col("geokey_blk") === bridge("ref_geokey"))
      .drop("ref_geokey")
  }

  /** Single-reference-frame run: every pass searches `census` regardless
    * of its declared `ref` (the pre-reference-file PVS shape, and the mode
    * unit tests and ad-hoc configs use). Delegates to the refs overload
    * with all ref names mapped to the one frame.
    */
  def run(census: DataFrame, input: DataFrame, cfg: LinkageConfig): DataFrame =
    run((cfg.passes.map(_.ref).toSet + "census").map(_ -> census).toMap, input, cfg)

  /** The reference-file cascade (the reference's actual PVS shape): each
    * pass searches the reference FRAME its module owns — geosearch the
    * GeoBase file, namesearch/dobsearch the Name/DOB Reference File
    * (alternate name × DOB rows per PIK; 03_link_datasets.ipynb NameSearch
    * header, 02_generate_case_study_files.ipynb cells 77/84) — via
    * `pass.ref`. `refs` must cover every pass's ref plus "census" (the
    * frame the hhcomp bridge is built from) when hhPasses are configured.
    * [[bestLink]]'s distinct-PIK rule already collapses the multi-row
    * reference sides: ties across alternate rows of the SAME pik dedupe to
    * one link; only distinct-PIK ties drop the record.
    */
  def run(refs: Map[String, DataFrame], input: DataFrame, cfg: LinkageConfig): DataFrame = {
    // Every frame feeds several passes (and the phonetic/geokey derivations
    // are nontrivial scalar chains), so materialize each once for the
    // cascade. A frame the CALLER already persisted is left alone (and not
    // unpersisted at the end) — callers that share the frames across
    // queries manage the lifecycle themselves.
    import org.apache.spark.storage.StorageLevel
    val cached = refs.map { case (name, df) =>
      val persisted = df.storageLevel != StorageLevel.NONE
      name -> (if (persisted) df else df.cache(), persisted)
    }
    val r = cached.map { case (name, (df, _)) => name -> df }
    val iPersisted = input.storageLevel != StorageLevel.NONE
    val i = if (iPersisted) input else input.cache()
    // Materialized once: the hh bridge, the hh remainder's anti-join and
    // the final union all read the main links.
    val links = hhStage(r, i, mainPasses(r, i, cfg).localCheckpoint(), cfg)
    cached.foreach { case (_, (df, persisted)) => if (!persisted) df.unpersist() }
    if (!iPersisted) i.unpersist()
    links
  }

  /** The 13 main search modules alone: fold the non-household passes over
    * `input`, returning the links. Records are INDEPENDENT through this
    * stage — a pass's candidates, threshold and best-link window all
    * condition on the record's own rec_id — so running it over any
    * partition of the input and unioning equals running it over the whole
    * input (the property [[foldPasses]] and the streaming cascade's
    * micro-batch replay parity rest on; StreamingSpec pins it).
    */
  def mainPasses(refs: Map[String, DataFrame], input: DataFrame,
      cfg: LinkageConfig): DataFrame =
    foldPasses(refs, input, cfg.passes, cfg)

  /** The hhcompsearch finalization: build the household-composition
    * reference from ALL main-stage links (the bridge needs the global link
    * set — this stage is NOT per-record independent, which is why the
    * streaming path defers it to a finalize step), then fold the hh passes
    * over the still-unlinked remainder. Returns main ∪ hh links.
    */
  def hhStage(refs: Map[String, DataFrame], input: DataFrame,
      mainLinks: DataFrame, cfg: LinkageConfig): DataFrame =
    if (cfg.hhPasses.isEmpty) mainLinks
    else {
      val hhRef = hhcompReference(refs("census"), input, mainLinks).localCheckpoint()
      val rem = input
        .join(mainLinks.select("rec_id").distinct(), Seq("rec_id"), "left_anti")
        .withColumn("hh_geokey", col("geokey_blk"))
      val hhRefs = cfg.hhPasses.map(_.ref).toSet.map((n: String) => n -> hhRef).toMap
      mainLinks.unionByName(foldPasses(hhRefs, rem, cfg.hhPasses, cfg))
    }

  /** Post-search confirm (reference "post-search confirm" cells): drop
    * links whose PIK belongs to a deceased person (date_of_death file) —
    * an anti-join against a (usually broadcastable) exclusion list.
    */
  def confirm(links: DataFrame, deceasedPiks: DataFrame): DataFrame =
    links.join(broadcast(deceasedPiks.select("pik")), Seq("pik"), "left_anti")

  /** The Movers module (reference 03_link_datasets.ipynb cell 99, quoting
    * Alexander et al. p. 6): input pseudo-households with MORE THAN ONE
    * member and ZERO members PIKed by the prior passes are searched as a
    * UNIT — members block against the reference WITHOUT regard for
    * address (the pass's keys are person attributes only), and a
    * candidate is kept only when at least two distinct members of the
    * same input household match at least two distinct PIKs living at the
    * same reference address. The co-location evidence carries the same
    * fixed Bayes-factor offset as hhcompsearch (pass.weightOffset).
    *
    * Scale shape: eligibility is one hash aggregation over the input;
    * candidates are a plain equi-join on the pass keys; the unit filter
    * is a second hash aggregation over the THRESHOLDED candidates (ids
    * only). No cross products, nothing collected.
    */
  def moversStage(census: DataFrame, input: DataFrame, priorLinks: DataFrame,
      cfg: LinkageConfig, pass: BlockingPass): DataFrame = {
    val linked = priorLinks.select("rec_id").distinct()
      .withColumn("is_linked", lit(1L))
    val eligible = input.filter(col("geokey_blk").isNotNull)
      .join(linked, Seq("rec_id"), "left")
      .groupBy("geokey_blk")
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("is_linked"), lit(0L))).as("n_linked"))
      .filter(col("n_members") > 1 && col("n_linked") === 0)
      .select("geokey_blk")
    val members = input.join(eligible, Seq("geokey_blk"))
    val scored = score(pairs(census, members, pass),
        pass.comparisonsFor(cfg), pass.constGammas)
      .withColumn("match_weight", col("match_weight") + lit(pass.weightOffset))
      .filter(col("match_weight") >= cfg.thresholdWeight &&
        col("l_geokey_blk").isNotNull)
      .select(col("l_pik").as("pik"), col("r_rec_id").as("rec_id"),
        col("l_geokey_blk").as("ref_geokey"),
        col("r_geokey_blk").as("hh_geokey"), col("match_weight"))
      // Materialized: the unit filter's aggregate AND the final resolve
      // join both consume the thresholded scoring — without the barrier
      // the whole block-join + gamma/weight evaluation runs twice (Spark
      // shares no work across join branches). The frame is the ACCEPTED
      // candidates only (ids + keys + weight), small by construction.
      .localCheckpoint()
    val units = scored.groupBy("hh_geokey", "ref_geokey")
      .agg(countDistinct("rec_id").as("nm"), countDistinct("pik").as("np"))
      .filter(col("nm") >= 2 && col("np") >= 2)
      .select("hh_geokey", "ref_geokey")
    bestLink(scored.join(units, Seq("hh_geokey", "ref_geokey"))
        .select("pik", "rec_id", "match_weight"))
      .withColumn("pass", lit(pass.name))
  }

  /** Explode a frame's zip3 into its adjacency neighborhood — by default
    * the arithmetic {z-1, z, z+1}, an arithmetically-derived stand-in
    * for the Census zip3 adjacency dimension (reference 03 cell 98; the
    * ZIP3 Adjacency passes of Layne/Wagner/Rothhaas App. A). A pass
    * blocked on the exploded zip3 equi-joins rows whose zip3 is ADJACENT
    * to the other side's — the join stays a plain equi-join and
    * adjacency is symmetric, so EITHER side may carry the explode; apply
    * it to the SMALLER side (the cascade remainder, not the national
    * reference file) so the 3× row blow-up — map-side only — lands where
    * it is cheap. Note the rendering at the range edges (lpad truncates
    * 999+1 → "100", 000-1 → "0-1") rides with the exploded side, so a
    * cross-engine mirror must explode the same side; neither artifact
    * key can join (no reference zip3 renders as "0-1", and a real
    * deployment passes the real adjacency table as `dim` instead of
    * relying on the arithmetic edges).
    *
    * `dim`: optional broadcast adjacency dimension (zip3, adj_zip3) — a
    * real Census adjacency file drops in without touching the pass. The
    * dim must carry the identity edges (z, z) for every zip3 it covers
    * (an adjacency table without self-edges would silently drop the
    * exact-zip3 candidates); rows whose zip3 is absent from the dim are
    * dropped, like rows with an unknown blocking key.
    */
  def zip3Adjacent(df: DataFrame, dim: Option[DataFrame] = None): DataFrame =
    dim match {
      case Some(d) =>
        df.join(broadcast(d.select(col("zip3"), col("adj_zip3"))), Seq("zip3"))
          .withColumn("zip3", col("adj_zip3")).drop("adj_zip3")
      case None =>
        df.withColumn("zip3",
          explode(array(Seq(-1, 0, 1).map(o =>
            lpad((col("zip3").cast("int") + lit(o)).cast("string"), 3, "0")): _*)))
    }

  /** The default arithmetic neighborhood as an EXPLICIT dim table over a
    * set of zip3 keys — (zip3, adj_zip3) rows for {z-1, z, z+1} with the
    * same edge rendering as the inline explode. Feeding this to
    * [[zip3Adjacent]] reproduces the default output for any frame whose
    * zip3s are all covered (the spec pins that equivalence), and shows
    * the drop-in shape a real Census adjacency file takes.
    */
  def arithmeticZip3Dim(zip3s: DataFrame): DataFrame =
    zip3s.select("zip3").distinct()
      .select(col("zip3"), explode(array(Seq(-1, 0, 1).map(o =>
        lpad((col("zip3").cast("int") + lit(o)).cast("string"), 3, "0")): _*))
        .as("adj_zip3"))

  /** Notebook-04 PIK-rate accounting over a link set (reference
    * 04_calculate_ground_truth_accuracy.ipynb): link and ground-truth-
    * correct counts per pass plus an 'all' total row, with pik_rate and
    * precision over the distinct input record count. Shared by the batch
    * q39 query and the streaming finalize accounting so the two surfaces
    * cannot drift (StreamingSpec pins replay parity against this report).
    * The single-row totals frame is an intended broadcast cross join.
    */
  def pikRateReport(links: DataFrame, input: DataFrame): DataFrame = {
    def correct =
      sum(when(col("pik") === col("rec_id"), 1L).otherwise(0L)).as("n_correct")
    val byPass = links.groupBy("pass").agg(count(lit(1)).as("n_piked"), correct)
    val total = links.agg(count(lit(1)).as("n_piked"), correct)
      .select(lit("all").as("pass"), col("n_piked"), col("n_correct"))
    val nRec = input.agg(countDistinct("rec_id").as("n_records"))
    byPass.unionByName(total)
      .crossJoin(nRec)
      .select(col("pass"), col("n_records"), col("n_piked"), col("n_correct"),
        round(col("n_piked").cast("double") / col("n_records").cast("double"), 6)
          .as("pik_rate"),
        round(col("n_correct").cast("double") / col("n_piked").cast("double"), 6)
          .as("precision_"))
  }

  /** λ (prior match probability over the full cross product), the
    * reference's probability_two_random_records_match estimate
    * (03_link_datasets.ipynb cells 56-57): 5% of input enumerations are
    * unintentional duplicates, 0.5% of reference PIKs are duplicates, 90%
    * of input people appear in the reference file, with independence
    * assumptions. The oracle SQL mirrors this exact expression tree over
    * COUNT(*) subqueries, so the doubles are bit-identical.
    */
  def lambdaFromCounts(nInput: Double, nCensus: Double): Double = {
    // Reference guard: probability_two_random_records_match returns 0.5
    // when the cartesian product is empty (avoids 0/0 → NaN downstream).
    if (nInput * nCensus == 0) return 0.5
    val peopleInInput = nInput * 0.95
    val peopleInCensus = nCensus * 0.995
    val peopleInBoth = peopleInInput * 0.9
    val matchesPerPerson = (peopleInInput / nInput) * (peopleInCensus / nCensus)
    (peopleInBoth * matchesPerPerson) / (nInput * nCensus)
  }

  /** SQL rendering of [[lambdaFromCounts]] over two count expressions —
    * keep the parenthesization in lockstep with the Scala tree.
    */
  def lambdaSql(nInputSql: String, nCensusSql: String): String =
    s"CASE WHEN ($nInputSql) * ($nCensusSql) = 0 THEN 0.5 ELSE " +
      s"((($nInputSql * 0.95) * 0.9) * ((($nInputSql * 0.95) / $nInputSql) * " +
      s"(($nCensusSql * 0.995) / $nCensusSql))) / ($nInputSql * $nCensusSql) END"

  def estimateLambda(census: DataFrame, input: DataFrame): Double =
    lambdaFromCounts(input.count().toDouble, census.count().toDouble)

  /** u estimation by deterministic modular sampling of each side BEFORE the
    * cross join (reference estimates u from random record pairs; sampling
    * first keeps the cross join tiny at any scale). Returns
    * (comparison, gamma, n, u_hat).
    *
    * The sampling modulus DERIVES from the row count — each side's sample
    * stays at ~perSideTarget rows, so the sampled cross join is a fixed
    * ~perSideTarget² pairs whether the input has 10³ or 10⁹ rows. (A
    * constant modulus samples a constant FRACTION, and the cross join then
    * grows quadratically with the data.) Integer count/target arithmetic
    * is reproduced exactly by the DuckDB oracle.
    */
  val uSampleTarget: Long = 200L

  def estimateU(census: DataFrame, input: DataFrame, cfg: LinkageConfig,
      perSideTarget: Long = uSampleTarget): DataFrame = {
    val modL = math.max(1L, census.count() / perSideTarget)
    val modR = math.max(1L, input.count() / perSideTarget)
    val l = prefixed(census.filter(pmod(col("pik"), lit(modL)) === 0), "l_")
    val r = prefixed(input.filter(pmod(col("rec_id"), lit(modR)) === 0), "r_")
    val withGammas = cfg.comparisons.foldLeft(l.crossJoin(r)) { (df, c) =>
      df.withColumn(c.gammaName, FellegiSunter.gammaCol(c))
    }
    // One (comparison, gamma) entry per comparison from EACH pair row in a
    // single pass — a union of per-comparison selects would re-evaluate
    // the cross join and every gamma expression once per branch.
    val stacked = withGammas
      .select(explode(array(cfg.comparisons.map(c =>
        struct(lit(c.name).as("comparison"), col(c.gammaName).as("gamma"))): _*)).as("e"))
      .select(col("e.comparison").as("comparison"), col("e.gamma").as("gamma"))
    stacked
      .groupBy("comparison", "gamma")
      .agg(count(lit(1)).as("n"))
      .withColumn("u_hat",
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("comparison")).cast("double"), 6))
  }

  /** One EM training session's data: its blocking, the comparisons it
    * may estimate (those its blocking does not condition on; see
    * [[emTrain]]) and the [[gammaHistogram]] of its blocked pairs over
    * exactly those comparisons.
    */
  final case class EmHistogram(pass: BlockingPass, comparisons: Seq[Comparison],
      patterns: Array[(Array[Int], Long)])

  /** Gamma-pattern histogram of a blocked pair frame: one row per distinct
    * tuple of `comparisons`' gamma columns with its pair count, in one
    * Spark job (Splink's E-step compression). `frame` is any frame that
    * carries those gamma columns: a fresh `score(pairs(…))` or a cached
    * scored frame of the same blocking. The histogram is bounded by the
    * product of the comparisons' level counts (a few hundred rows whether
    * the pairs number thousands or trillions), so EM iterates driver-side
    * over it with no further Spark jobs. Sorted by pattern for a
    * deterministic summation order (float addition is not associative;
    * the groups' arrival order is run-dependent).
    */
  def gammaHistogram(frame: DataFrame, comparisons: Seq[Comparison])
      : Array[(Array[Int], Long)] = {
    val nC = comparisons.size
    frame
      .groupBy(comparisons.map(c => col(c.gammaName)): _*)
      .agg(count(lit(1)).as("__n"))
      .collect()
      .map { r =>
        val gs = Array.tabulate(nC)(i => r.get(i).asInstanceOf[Number].intValue)
        (gs, r.getLong(nC))
      }
      .sortBy(_._1.mkString(","))
  }

  /** One training session's stopping report: the blocking keys that name
    * the session, the iterations it actually ran, whether it stopped on
    * the tolerance (max |Δm| < tol — Splink's convergence rule) or hit
    * the iteration cap, and the final iteration's max |Δm|.
    */
  case class EmSessionReport(blockKeys: Seq[String], iterations: Int,
      converged: Boolean, maxDelta: Double)

  /** Splink's default EM convergence tolerance (`em_convergence`). */
  val DefaultEmTol = 1e-4

  /** EM for m-probabilities with u and λ fixed (the reference trains m via
    * Splink EM on blocked pairs with λ fixed), one session per training
    * histogram (the reference trains two Splink EM sessions:
    * first_name_15+zipcode and geokey, 03_link_datasets.ipynb cells
    * 67/70). A session CANNOT estimate m for the comparisons its blocking
    * rule conditions on — the blocked population is degenerate in them (a
    * geokey block is dominated by same-household non-matches whose geokey
    * agrees exactly, so including the geokey comparison makes EM latch
    * onto "same household" as the match class); a histogram carries only
    * the comparisons its pass does not exclude. Per-comparison estimates
    * are averaged across the sessions that produced them (Splink's
    * combine step). Returns the estimates in `cfg.comparisons` level order
    * and each session's stopping report — the Splink-style "EM converged
    * in N iterations" accounting (tol = 0 runs exactly `iterations` and
    * reports converged = false).
    */
  def emTrain(hists: Seq[EmHistogram], cfg: LinkageConfig, iterations: Int = 5,
      tol: Double = 0.0): (Seq[(String, Int, Double)], Seq[EmSessionReport]) = {
    val sessions = hists.map(h => (h, emSession(h, cfg, iterations, tol)))
    val ests = cfg.comparisons.flatMap { c =>
      val ms = sessions.collect {
        case (h, (m, _)) if h.comparisons.exists(_.name == c.name) => m
      }
      require(ms.nonEmpty, s"no training session estimates comparison '${c.name}'")
      c.params.map { case (g, _, _) =>
        (c.name, g, ms.map(_((c.name, g))).sum / ms.size)
      }
    }
    (ests, sessions.map(_._2._2))
  }

  /** One EM session over its histogram: m for the session's comparisons,
    * keyed (comparison, gamma), and its stopping report. With
    * `iterations = 1` this is the closed-form single E+M step the q101
    * oracle reproduces in SQL. tol = 0 runs the fixed iteration count;
    * tol > 0 is Splink's convergence stop — the session ends after the
    * first iteration whose max |Δm| over every (comparison, level) falls
    * below it.
    */
  def emSession(hist: EmHistogram, cfg: LinkageConfig, iterations: Int,
      tol: Double = 0.0): (Map[(String, Int), Double], EmSessionReport) = {
    var m = emInit(hist.comparisons)
    var it = 0
    var converged = false
    var lastDelta = Double.NaN
    while (it < iterations && !converged) {
      val next = emStep(hist.patterns, hist.comparisons, m, cfg.lambda)
      lastDelta = m.keysIterator
        .foldLeft(0.0)((acc, k) => math.max(acc, math.abs(next(k) - m(k))))
      m = next
      it += 1
      if (tol > 0.0 && lastDelta < tol) converged = true
    }
    (m, EmSessionReport(hist.pass.keys, it, converged, lastDelta))
  }

  /** Splink-style init: strongest level 0.8, rest of the mass uniform. */
  private def emInit(comparisons: Seq[Comparison]): Map[(String, Int), Double] =
    comparisons.flatMap { c =>
      val lower = c.numLevels // levels 0..n-1 share 0.2
      c.params.map { case (g, _, _) =>
        (c.name, g) -> (if (g == c.numLevels) 0.8 else 0.2 / lower)
      }
    }.toMap

  /** One E+M step over the pattern histogram (the update rule q101 pins
    * against DuckDB): per-pattern posterior p under current m, fixed u and
    * λ, level masses accumulated in histogram order, normalized per
    * comparison over its non-null levels.
    */
  private def emStep(hist: Array[(Array[Int], Long)], comparisons: Seq[Comparison],
      m: Map[(String, Int), Double], lam: Double): Map[(String, Int), Double] = {
    val nC = comparisons.size
    val uFixed: Map[(String, Int), Double] =
      comparisons.flatMap(c => c.params.map { case (g, _, u) => (c.name, g) -> u }).toMap
    val knownGamma: Map[String, Set[Int]] =
      comparisons.map(c => c.name -> c.params.map(_._1).toSet).toMap

    // The null level (gamma -1: either side missing) contributes a Bayes
    // factor of 1 to both the m- and u-products, like Splink's null_level —
    // a missing field is no evidence either way.
    def levelVal(c: Comparison, g: Int, f: Int => Double): Double =
      if (g == -1) 1.0
      else if (knownGamma(c.name).contains(g)) f(g)
      else f(0)

    val sums = scala.collection.mutable.Map.empty[(String, Int), Double].withDefaultValue(0.0)
    hist.foreach { case (gs, n) =>
      var mProd = 1.0
      var uProd = 1.0
      var i = 0
      while (i < nC) {
        val c = comparisons(i)
        mProd *= levelVal(c, gs(i), g => m((c.name, g)))
        uProd *= levelVal(c, gs(i), g => uFixed((c.name, g)))
        i += 1
      }
      val p = lam * mProd / (lam * mProd + (1.0 - lam) * uProd)
      val w = n.toDouble * p
      var j = 0
      while (j < nC) {
        val c = comparisons(j)
        if (gs(j) != -1 && knownGamma(c.name).contains(gs(j))) sums((c.name, gs(j))) += w
        j += 1
      }
    }
    // m is normalized PER COMPARISON over its non-null levels (null-level
    // rows carry no information about this field's m), so comparisons
    // with missing data still get a proper distribution. A zero total
    // (empty training block, or a column null on one side for every pair)
    // keeps the previous iteration's m instead of minting NaN that would
    // silently poison the session average.
    comparisons.flatMap { c =>
      val total = c.params.map { case (g, _, _) => sums((c.name, g)) }.sum
      c.params.map { case (g, _, _) =>
        val v = if (total < 1e-12) m((c.name, g)) else sums((c.name, g)) / total
        (c.name, g) -> v
      }
    }.toMap
  }

  /** Per-iteration EM trajectory for one session — the data behind Splink's
    * m_u_values_interactive_history_chart (the reference saves it per
    * training session; 03_link_datasets.ipynb splink_reports cells). m is
    * QUANTIZED to 6 dp between iterations, which makes the whole trajectory
    * engine-reproducible: every iteration starts from bit-identical inputs
    * in Spark and the unrolled DuckDB oracle, so cross-engine ulp noise
    * cannot compound across iterations. The production estimator
    * ([[emTrain]]) stays unquantized; at 6 dp the trajectories agree to
    * the displayed precision. Iteration 0 is the documented init.
    *
    * Each row carries a CONVERGED flag: true from the first iteration
    * whose max |Δm| against the previous iteration falls below
    * [[DefaultEmTol]] (Splink's convergence rule, evaluated on the
    * quantized trajectory). The deltas subtract as EXACT DECIMALS — the
    * quantized m's are 6-dp grid points, so a double subtraction's ulp
    * error could split the `< tol` comparison between engines right at the
    * grid boundary; BigDecimal here and DECIMAL(18,6) in the oracle make
    * the flag bit-reproducible. Iteration 0 (the init) is never converged.
    * The flag REPORTS — it does not stop the loop, so the trajectory stays
    * fixed-depth and the unrolled oracle stays hash-exact at any tolerance
    * outcome.
    */
  def emHistory(hist: EmHistogram, cfg: LinkageConfig, iterations: Int)
      : Seq[(Int, String, Int, Double, Boolean)] = {
    val comparisons = hist.comparisons
    def q6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def rows(it: Int, m: Map[(String, Int), BigDecimal], conv: Boolean)
        : Seq[(Int, String, Int, Double, Boolean)] =
      comparisons.flatMap(c => c.params.map { case (g, _, _) =>
        (it, c.name, g, m((c.name, g)).toDouble, conv)
      })
    val tol = BigDecimal(DefaultEmTol).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    var m = emInit(comparisons).map { case (k, v) => k -> q6(v) }
    val out = Seq.newBuilder[(Int, String, Int, Double, Boolean)]
    out ++= rows(0, m, conv = false)
    for (it <- 1 to iterations) {
      val next = emStep(hist.patterns, comparisons, m.map { case (k, v) => k -> v.toDouble },
        cfg.lambda).map { case (k, v) => k -> q6(v) }
      val delta = m.keysIterator
        .foldLeft(BigDecimal(0))((acc, k) => acc.max((next(k) - m(k)).abs))
      m = next
      out ++= rows(it, m, conv = delta < tol)
    }
    out.result()
  }
}
