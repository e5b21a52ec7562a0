package graft.streaming

import graft.linkage.{BlockingPass, LinkageCascade, LinkageConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming linkage: continuous PIK assignment for records arriving on a
  * stream, scored against a static census reference — the production
  * deployment shape of the flagship cascade (the reference links fixed
  * files; an engine fed by a live intake queue links the same model
  * per-arrival). A stream of (derived) input records is scored by
  * [[LinkageCascade.scoredLinks]], the same function the batch predict
  * pass resolves, so streaming and batch scores cannot drift
  * (StreamingSpec asserts equality against the batch predict pass).
  *
  * Scale shape: each micro-batch plans the same single equi-join on the
  * pass's block keys that the batch pass plans; the arriving batch is
  * small, so at scale the natural physical pick is broadcasting the
  * arrivals against a bucketed census table — no stateful streaming
  * shuffle, no watermark-bounded state (scoring is stateless; only the
  * OPTIONAL per-batch best-link resolution aggregates, and it aggregates
  * within one micro-batch only).
  */
object StreamingLinkage {

  /** Reconstitute full derived records for an arriving stream of rec_ids
    * (intake queues carry keys, not 25-column derived rows) via a
    * stream-static join against the preprocessed input snapshot.
    */
  def reconstitute(arrivals: DataFrame, inputStatic: DataFrame): DataFrame =
    arrivals.join(inputStatic, Seq("rec_id"))

  /** Per-micro-batch best-link resolution for a foreachBatch sink: each
    * record arrives on exactly one micro-batch, so resolving within the
    * batch equals the batch pass's resolution for that record's candidate
    * set.
    */
  def resolveBatch(scoredBatch: DataFrame): DataFrame =
    LinkageCascade.bestLink(scoredBatch)

  /** One micro-batch of the FULL multi-pass cascade for a foreachBatch
    * sink: anti-join the arrivals against the already-linked state (a
    * record PIKed by an earlier batch never re-enters a search module —
    * the cross-batch twin of the cascade's per-pass anti-join), then run
    * the 13 main search modules over the remainder. Returns the batch's
    * new links; the caller unions them into its state (checkpointing the
    * union per batch, as [[graft.streaming.StreamingDedup]] does for its
    * band index).
    *
    * Exactness: the main modules are per-record independent
    * ([[LinkageCascade.mainPasses]]), so replaying an input in any batch
    * order yields EXACTLY the batch cascade's main links — parity
    * StreamingSpec pins over a 5-batch replay.
    */
  def cascadeMainBatch(refs: Map[String, DataFrame], arrivals: DataFrame,
      priorLinks: DataFrame, cfg: LinkageConfig): DataFrame = {
    val fresh = arrivals.join(
      priorLinks.select("rec_id").distinct(), Seq("rec_id"), "left_anti")
    LinkageCascade.mainPasses(refs, fresh, cfg)
  }

  /** Stream-end (or periodic) hhcompsearch finalization: the household
    * bridge conditions on the GLOBAL link set — a record's housemate may
    * arrive batches later — so the hh modules run once over the
    * accumulated arrivals and links rather than per batch. With this
    * deferral the streaming path's total output equals batch
    * [[LinkageCascade.run]] exactly.
    */
  def cascadeFinalize(refs: Map[String, DataFrame], allArrivals: DataFrame,
      accLinks: DataFrame, cfg: LinkageConfig): DataFrame =
    LinkageCascade.hhStage(refs, allArrivals, accLinks, cfg)

  /** Full stream-end finalization contract: hhcomp over the accumulated
    * links, then the post-search CONFIRM pass (deceased-PIK anti-join,
    * the batch q37 step) — a continuous-PIK deployment must not end
    * unconfirmed. Identical Column trees to the batch path
    * ([[graft.linkage.LinkageCascade.confirm]]), so a replay's confirmed
    * set equals batch confirm exactly (StreamingSpec pins it).
    */
  def cascadeFinalizeConfirmed(refs: Map[String, DataFrame],
      allArrivals: DataFrame, accLinks: DataFrame, cfg: LinkageConfig,
      deceasedPiks: DataFrame): DataFrame =
    LinkageCascade.confirm(
      cascadeFinalize(refs, allArrivals, accLinks, cfg), deceasedPiks)

  /** Stream-end finalization over ALL remaining PVS modules — the
    * continuous-PIK path's batch-surface parity closure: after the
    * household bridge ([[cascadeFinalize]]), the three modules the batch
    * inventory ships as q128/q129/q130 run over the finalize-time global
    * state with EXACTLY the batch queries' frames and anti-join
    * structure, so a replay's module links equal batch q128 ∪ q129 ∪
    * q130 (StreamingSpec pins it):
    *
    *  - Movers ([[LinkageCascade.moversStage]]): fully-unPIKed
    *    multi-member households vs `census`, conditioned on the
    *    main+hh GLOBAL link set — a household's last member may arrive
    *    batches after its first, which is why this is a finalize pass,
    *    not a per-batch one (same deferral argument as hhcomp).
    *  - ZIP3 Adjacency: the two street-soundex passes re-run over the
    *    post-hh remainder with the zip3 cut widened via
    *    [[LinkageCascade.zip3Adjacent]] against `geoRef` (the GeoBase
    *    side; `zip3Dim` plugs a real adjacency table in).
    *  - MAFMatch: both sides resolve their sans-zip geokey against the
    *    Master Address File `maf(maf_key, mafid)` and block on the
    *    minted mafid — like the batch query, NO remainder anti-join
    *    (PVS runs MAFMatch as an address-resolution pass, not a
    *    cascade-tail pass).
    *
    * Returns main+hh+movers+zip3+maf links (pik, rec_id, match_weight,
    * pass). At scale every module is the same blocked equi-join shape as
    * the batch cascade; the MAF lookup joins on the sans-zip key (at
    * 100 TB: a bucketed MAF table keyed on maf_key).
    */
  def cascadeFinalizeAllModules(
      refs: Map[String, DataFrame],
      census: DataFrame,
      geoRef: DataFrame,
      maf: DataFrame,
      allArrivals: DataFrame,
      accLinks: DataFrame,
      cfg: LinkageConfig,
      moversPass: BlockingPass,
      zip3Passes: Seq[BlockingPass],
      mafPass: BlockingPass,
      zip3Dim: Option[DataFrame] = None): DataFrame = {
    val slim = (df: DataFrame) =>
      df.select("pik", "rec_id", "match_weight", "pass")
    val links = cascadeFinalize(refs, allArrivals, accLinks, cfg)
      .localCheckpoint()
    val movers = LinkageCascade.moversStage(
      census, allArrivals, links, cfg, moversPass)
    val rem = allArrivals.join(
      links.select("rec_id").distinct(), Seq("rec_id"), "left_anti")
    val zip3Links = LinkageCascade.foldPasses(zip3Passes.map(_.ref -> geoRef).toMap,
      LinkageCascade.zip3Adjacent(rem, zip3Dim), zip3Passes, cfg)
    def withMaf(side: DataFrame): DataFrame =
      side.join(maf,
        regexp_replace(side("geokey"), "\\|[^|]*$", "") === maf("maf_key"))
        .drop("maf_key")
    val mafLinks = LinkageCascade.predict(
        withMaf(census), withMaf(allArrivals), mafPass, cfg)
      .withColumn("pass", lit(mafPass.name))
    slim(links).unionByName(slim(movers)).unionByName(slim(zip3Links))
      .unionByName(slim(mafLinks))
  }

  /** q39-style per-pass accounting over the streamed links — the same
    * report the batch pipeline publishes ([[graft.linkage.LinkageCascade
    * .pikRateReport]]), produced at stream end so a continuous deployment
    * ships the notebook-04 accuracy surface alongside its links.
    */
  def passAccounting(links: DataFrame, allArrivals: DataFrame): DataFrame =
    LinkageCascade.pikRateReport(links, allArrivals)
}
