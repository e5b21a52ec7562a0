package graft.queries

import graft.{Memo, QueryDef}
import graft.operators.{Noise, Preprocess}
import graft.ops.{DfOps, Lineage}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.G — reference-file construction (the notebook-02 surface:
  * /root/reference/02_generate_case_study_files.ipynb). A two-era
  * "numident" derives deterministically from `persons` for SSN-holders
  * (era 0 clean names, era 1 the messy name variants and a bumped DOB day
  * for k%6); the TAX sources — one 1040 filing per filer plus the last
  * five W2/1099 tax years (cells 24-39) — carry the IRS noise chain
  * (wrong-boundary name splits, 4-char last-name truncation, name-part
  * shuffles) and feed the reference files exactly the way the reference
  * wires them: addresses_by_ssn dedupes ALL tax filings on (ssn, address)
  * into the GeoBase merge (cells 78-84), and ITIN names from the 1040
  * filings of SSN-less filers concat into the name/DOB reference file
  * (cells 72-76). The lineage operators keep every derived record traced
  * to all raw filings that produced it.
  *
  * Spark + DuckDB render from the same construction so the whole chain is
  * hash-verified: group-mins for dedupe ids, parent-id concatenation for
  * merge ids, windowed group mapping for pairings.
  *
  * Scale shape: every step is an equi-join or a single shuffle on its
  * dedupe keys; the W2 expansion is a 5-way explode (flatMap, no join);
  * nothing is driver-side.
  */
object RefFileQueries {

  private val nameCols = Seq("first_name", "middle_initial", "last_name")

  /** The reference's very_noisy pseudopeople settings (notebook 01 cell
    * 16) as a noise CONFIG — the configuration surface notebook 01 feeds
    * pseudopeople, as data a caller can replace wholesale (q77 interprets
    * this default; NoiseSpec runs an alternate).
    */
  val veryNoisyConfig: Seq[Noise.NoiseOp] = Seq(
    Noise.MakeTypos("first_name", 0.10, 0.10, 11),
    Noise.MakeTypos("last_name", 0.10, 0.10, 13),
    Noise.MakeTypos("middle_initial", 0.05, 1.0, 15),
    Noise.WrongDigits("street_num", 0.10, 0.10, 17),
    Noise.WrongDigits("zipcode", 0.10, 0.10, 19),
    Noise.SwapCols("dob_day", "dob_month", 0.02, 21),
    Noise.PerturbIntOp("dob_year", 0.01, Seq(-3, -2, -1, 1, 2, 3), 23),
    Noise.Blank("middle_initial", 0.02, 25),
    Noise.WrongOption("state", People.states, 0.03, 27),
    Noise.OmitRows(0.01, 29))

  private val addrCols = Seq("street_num", "street_std", "city", "state", "zipcode")
  private val taxYears = Seq(2025, 2026, 2027, 2028, 2029)

  /** Identifier a tax filing reports: SSN-holders file under their SSN;
    * the SSN-less slice (k%5==4, reference 02 cells 72-75) files under an
    * ITIN in the 9-range. Only k%3==0 of the SSN-less actually file.
    */
  private def taxSsn(k: Column): Column =
    when(pmod(k, lit(5)) === 4, lit(900000000L) + k).otherwise(k)

  private def taxSsnSql(k: String): String =
    s"CASE WHEN ($k) % 5 = 4 THEN 900000000 + ($k) ELSE ($k) END"

  private val taxFilerWhere = "(k % 5 <> 4 OR k % 3 = 0)"

  private def taxFilerFilter(df: DataFrame): DataFrame =
    df.filter(pmod(col("k"), lit(5)) =!= 4 || pmod(col("k"), lit(3)) === 0)

  /** The local bench parquet scans arrive as one partition, which would
    * run the tax noise chains (split/truncate/shuffle CASE trees over
    * every filing) single-threaded; a cluster scan splits naturally.
    */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Two rows per SSN-holder: the SSA-era clean record and a later filing
    * with the messy names (and a shifted DOB day for k%6 — alternate
    * DOBs). The k%5==4 slice holds no SSN, so the SSA numident never
    * covers it (they enter the reference files only through ITIN filings).
    */
  private def numident(s: SparkSession, d: String): DataFrame = {
    val p = People.persons(s, d).filter(pmod(col("k"), lit(5)) =!= 4)
    val era0 = p.select(
      concat(lit("num0_"), col("k")).as("record_id"),
      col("k").as("ssn"),
      col("first_name"), col("last_name"),
      col("dob_year"), col("dob_month"), col("dob_day"))
    // k%9==0 refiles under the unchanged clean name, so a real fraction of
    // (ssn, name) groups COLLAPSES in the alternate-name dedupe
    // (n_sources 2) rather than every era minting a new alternate.
    val era1 = p.select(
      concat(lit("num1_"), col("k")).as("record_id"),
      col("k").as("ssn"),
      when(pmod(col("k"), lit(9)) === 0, col("first_name"))
        .otherwise(col("messy_first")).as("first_name"),
      when(pmod(col("k"), lit(9)) === 0, col("last_name"))
        .otherwise(col("messy_last")).as("last_name"),
      col("dob_year"), col("dob_month"),
      when(pmod(col("k"), lit(6)) === 0, pmod(col("dob_day"), lit(28)) + 1)
        .otherwise(col("dob_day")).cast("int").as("dob_day"))
    era0.unionByName(era1)
  }

  private val numidentCte: String =
    s"""numident AS (
       |  SELECT 'num0_' || CAST(k AS VARCHAR) AS record_id, k AS ssn,
       |         first_name, last_name, dob_year, dob_month, dob_day
       |  FROM persons WHERE k % 5 <> 4
       |  UNION ALL
       |  SELECT 'num1_' || CAST(k AS VARCHAR), k,
       |         CASE WHEN k % 9 = 0 THEN first_name ELSE messy_first END,
       |         CASE WHEN k % 9 = 0 THEN last_name ELSE messy_last END,
       |         dob_year, dob_month,
       |         CAST(CASE WHEN k % 6 = 0 THEN dob_day % 28 + 1 ELSE dob_day END AS INTEGER)
       |  FROM persons WHERE k % 5 <> 4)""".stripMargin

  private val base = s"WITH ${People.personsCte},\n$numidentCte"

  // ---- tax sources (reference 02 cells 24-39) ------------------------------

  /** One 1040 filing per filer: current address, names through the IRS
    * noise chain (cells 24-26: wrong-boundary splits 1%, last-name
    * truncation to 4 chars 40%, name-part shuffles 1% — seeds 1/2/3 keyed
    * on k, the same chain q118's ITIN identity data carries).
    */
  private def t1040(s: SparkSession, d: String): DataFrame = {
    val p = fanOut(taxFilerFilter(People.persons(s, d)))
    val raw = p.select(
      concat(lit("t1040_"), col("k")).as("record_id"),
      col("k"), taxSsn(col("k")).as("ssn"),
      col("first_name"), col("middle_initial"), col("last_name"),
      col("street_num"),
      Preprocess.standardizeAddressPart(col("street_raw")).as("street_std"),
      col("city"), col("state"), col("zipcode"))
    val sp = Noise.splitColumnsIncorrectly(raw, nameCols, "k", 0.01, 1)
    val tr = Noise.truncateColumn(sp, "last_name", "k", 0.4, 4, 2)
    Noise.shuffleColumns(tr, nameCols, "k", 0.01, 3)
  }

  /** The last 5 W2/1099 tax years (cells 29-33): one filing per filer per
    * year present (each filer misses the one year of five where
    * (k + year) % 5 == 0), mailing address = the OLD household address for
    * moved households in the two earliest years (so addresses_by_ssn keeps
    * "current and recent addresses"), names through the same IRS chain
    * (seeds 4/5/6 keyed on the per-filing key wk). A k%57 slice's 2026
    * filing reports the NEIGHBOR's SSN — the reference-file-construction
    * error class that mints multi-simulant PIKs (notebook 04 cell 25).
    */
  private def w2(s: SparkSession, d: String): DataFrame = {
    val p = fanOut(taxFilerFilter(People.persons(s, d)))
      .withColumn("tax_year", explode(array(taxYears.map(lit): _*)))
      .filter(pmod(col("k") + col("tax_year"), lit(5)) =!= 0)
    val old = People.householdMoved(col("hh")) && col("tax_year") <= 2026
    val wrong = pmod(col("k"), lit(57)) === 0 && pmod(col("k"), lit(5)) =!= 4 &&
      pmod(col("k") + 1, lit(5)) =!= 4 && col("tax_year") === 2026
    val raw = p.select(
      concat(lit("w2_"), col("tax_year"), lit("_"), col("k")).as("record_id"),
      col("tax_year"), col("k"),
      (col("k") * 5 + (col("tax_year") - lit(2025))).as("wk"),
      when(wrong, col("k") + 1).otherwise(taxSsn(col("k"))).as("ssn"),
      col("first_name"), col("middle_initial"), col("last_name"),
      when(old, col("street_num_old")).otherwise(col("street_num")).as("street_num"),
      when(old, Preprocess.standardizeAddressPart(col("street_raw_old")))
        .otherwise(Preprocess.standardizeAddressPart(col("street_raw"))).as("street_std"),
      when(old, col("city_old")).otherwise(col("city")).as("city"),
      when(old, col("state_old")).otherwise(col("state")).as("state"),
      when(old, col("zipcode_old")).otherwise(col("zipcode")).as("zipcode"))
    val sp = Noise.splitColumnsIncorrectly(raw, nameCols, "wk", 0.01, 4)
    val tr = Noise.truncateColumn(sp, "last_name", "wk", 0.4, 4, 5)
    Noise.shuffleColumns(tr, nameCols, "wk", 0.01, 6)
  }

  private val w2OldSql = "(hh % 13 = 0 AND hh % 200 <> 0 AND tax_year <= 2026)"
  private val w2WrongSql =
    "(k % 57 = 0 AND k % 5 <> 4 AND (k + 1) % 5 <> 4 AND tax_year = 2026)"

  import Preprocess.{standardizeAddressPartSql => stdSql}

  /** CTEs rendering [[t1040]] and [[w2]] — the noise chain stages mirror
    * q74's oracle (split → trunc → shuffle as successive CTEs so each
    * stage observes the previous stage's outputs, exactly like the
    * Spark-side sequential projections).
    */
  private val taxCtes: String = {
    val sp1 = Noise.splitColumnsIncorrectlySql(nameCols, "k", 0.01, 1)
    val tr1 = Noise.truncateColumnSql("last_name", "k", 0.4, 4, 2)
    val sh1 = Noise.shuffleColumnsSql(nameCols, "k", 0.01, 3)
    val sp2 = Noise.splitColumnsIncorrectlySql(nameCols, "wk", 0.01, 4)
    val tr2 = Noise.truncateColumnSql("last_name", "wk", 0.4, 4, 5)
    val sh2 = Noise.shuffleColumnsSql(nameCols, "wk", 0.01, 6)
    s"""t1040base AS (
       |  SELECT 't1040_' || CAST(k AS VARCHAR) AS record_id, k,
       |         ${taxSsnSql("k")} AS ssn,
       |         first_name, middle_initial, last_name,
       |         street_num, ${stdSql("street_raw")} AS street_std,
       |         city, state, zipcode
       |  FROM persons WHERE $taxFilerWhere),
       |t1040split AS (
       |  SELECT record_id, k, ssn, ${sp1("first_name")} AS first_name,
       |         ${sp1("middle_initial")} AS middle_initial,
       |         ${sp1("last_name")} AS last_name,
       |         street_num, street_std, city, state, zipcode
       |  FROM t1040base),
       |t1040trunc AS (
       |  SELECT record_id, k, ssn, first_name, middle_initial,
       |         $tr1 AS last_name,
       |         street_num, street_std, city, state, zipcode
       |  FROM t1040split),
       |t1040 AS MATERIALIZED (
       |  SELECT record_id, k, ssn, ${sh1("first_name")} AS first_name,
       |         ${sh1("middle_initial")} AS middle_initial,
       |         ${sh1("last_name")} AS last_name,
       |         street_num, street_std, city, state, zipcode
       |  FROM t1040trunc),
       |w2base AS (
       |  SELECT 'w2_' || CAST(tax_year AS VARCHAR) || '_' || CAST(k AS VARCHAR) AS record_id,
       |         tax_year, k, k * 5 + (tax_year - 2025) AS wk,
       |         CASE WHEN $w2WrongSql THEN k + 1 ELSE ${taxSsnSql("k")} END AS ssn,
       |         first_name, middle_initial, last_name,
       |         CASE WHEN $w2OldSql THEN street_num_old ELSE street_num END AS street_num,
       |         CASE WHEN $w2OldSql THEN ${stdSql("street_raw_old")}
       |              ELSE ${stdSql("street_raw")} END AS street_std,
       |         CASE WHEN $w2OldSql THEN city_old ELSE city END AS city,
       |         CASE WHEN $w2OldSql THEN state_old ELSE state END AS state,
       |         CASE WHEN $w2OldSql THEN zipcode_old ELSE zipcode END AS zipcode
       |  FROM persons
       |  CROSS JOIN (SELECT unnest([${taxYears.mkString(", ")}]) AS tax_year) years
       |  WHERE $taxFilerWhere AND (k + tax_year) % 5 <> 0),
       |w2split AS (
       |  SELECT record_id, tax_year, k, wk, ssn, ${sp2("first_name")} AS first_name,
       |         ${sp2("middle_initial")} AS middle_initial,
       |         ${sp2("last_name")} AS last_name,
       |         street_num, street_std, city, state, zipcode
       |  FROM w2base),
       |w2trunc AS (
       |  SELECT record_id, tax_year, k, wk, ssn, first_name, middle_initial,
       |         $tr2 AS last_name,
       |         street_num, street_std, city, state, zipcode
       |  FROM w2split),
       |w2 AS MATERIALIZED (
       |  SELECT record_id, tax_year, k, wk, ssn, ${sh2("first_name")} AS first_name,
       |         ${sh2("middle_initial")} AS middle_initial,
       |         ${sh2("last_name")} AS last_name,
       |         street_num, street_std, city, state, zipcode
       |  FROM w2trunc)""".stripMargin
  }

  // ---- addresses_by_ssn (cells 78-80) --------------------------------------

  /** Every tax filing's (ssn, standardized address), deduped with lineage:
    * one record per distinct combination, tracing to ALL filings that
    * reported it. Moved households contribute both addresses; the wrong-
    * SSN W2 slice contributes a neighbor's address group.
    */
  private def addressesBySsn(s: SparkSession, d: String,
      t1040Df: DataFrame, w2Df: DataFrame): (DataFrame, DataFrame) = {
    val cols = ("record_id" +: "ssn" +: addrCols).map(col)
    val all = t1040Df.select(cols: _*).unionByName(w2Df.select(cols: _*))
    Lineage.dedupeRawPreservingSourceRecords(all, "ssn" +: addrCols, "abys")
  }

  private val abysCtes: String =
    s"""taxaddr AS (
       |  SELECT record_id, ssn, street_num, street_std, city, state, zipcode FROM t1040
       |  UNION ALL
       |  SELECT record_id, ssn, street_num, street_std, city, state, zipcode FROM w2),
       |abys AS MATERIALIZED (
       |  SELECT 'abys_' || min(record_id) AS record_id, ssn,
       |         street_num, street_std, city, state, zipcode
       |  FROM taxaddr
       |  GROUP BY ssn, street_num, street_std, city, state, zipcode),
       |abys_map AS (
       |  SELECT record_id AS src,
       |         'abys_' || min(record_id) OVER (
       |           PARTITION BY ssn, street_num, street_std, city, state, zipcode) AS ab_id
       |  FROM taxaddr)""".stripMargin

  // ---- name/DOB reference file (cells 62-76) -------------------------------

  /** The numident-derived pieces: alternate names × alternate DOBs per
    * ssn via the lineage operators (cells 62/66/70).
    */
  private def nameDobRef(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val n = numident(s, d)
    val (altN, pN) = Lineage.dedupeRawPreservingSourceRecords(
      n, Seq("ssn", "first_name", "last_name"), "altn")
    val (altD, pD) = Lineage.dedupeRawPreservingSourceRecords(
      n.select("record_id", "ssn", "dob_year", "dob_month", "dob_day"),
      Seq("ssn", "dob_year", "dob_month", "dob_day"), "altd")
    Lineage.mergePreservingSourceRecords(altN, pN, altD, pD, Seq("ssn"), "ndr")
  }

  /** The FULL name/DOB reference file: numident combinations concat'd with
    * the ITIN name records retained from the 1040 filings of SSN-less
    * filers (cells 73/76 — "as well as ITIN data"). ITIN rows carry no
    * DOB (the tax filing reports none).
    */
  private def nameDobRefFull(s: SparkSession, d: String,
      t1040Df: DataFrame): (DataFrame, DataFrame) = {
    val (ndr, pM) = nameDobRef(s, d)
    val itinRaw = t1040Df.filter(col("ssn") >= 900000000L)
      .select("record_id", "ssn", "first_name", "last_name")
    val (itn, pI) = Lineage.dedupeRawPreservingSourceRecords(
      itinRaw, Seq("ssn", "first_name", "last_name"), "itn")
    val outCols = Seq("record_id", "ssn", "first_name", "last_name",
      "dob_year", "dob_month", "dob_day")
    val itnAligned = itn
      .withColumn("dob_year", lit(null).cast("int"))
      .withColumn("dob_month", lit(null).cast("int"))
      .withColumn("dob_day", lit(null).cast("int"))
      .select(outCols.map(col): _*)
    Lineage.concatPreservingSourceRecords(
      Seq(ndr.select(outCols.map(col): _*), itnAligned), Seq(pM, pI))
  }

  /** The numident-side CTE chain (altn/altd/ndr + lineage maps) plus the
    * ITIN concat (itn/ndrf) — shared verbatim by q72/q117/q120's oracles
    * so the files cannot drift.
    */
  private val ndrCtes: String =
    s"""altn AS (
       |  SELECT 'altn_' || min(record_id) AS record_id, ssn, first_name, last_name
       |  FROM numident GROUP BY ssn, first_name, last_name),
       |altd AS (
       |  SELECT 'altd_' || min(record_id) AS record_id, ssn, dob_year, dob_month, dob_day
       |  FROM numident GROUP BY ssn, dob_year, dob_month, dob_day),
       |ndr AS (
       |  SELECT 'ndr_' || an.record_id || '_' || coalesce(ad.record_id, 'na') AS record_id,
       |         an.ssn, an.first_name, an.last_name,
       |         ad.dob_year, ad.dob_month, ad.dob_day,
       |         an.record_id AS an_id, ad.record_id AS ad_id
       |  FROM altn an LEFT JOIN altd ad ON an.ssn = ad.ssn),
       |an_map AS (
       |  SELECT record_id AS src,
       |         'altn_' || min(record_id) OVER (PARTITION BY ssn, first_name, last_name) AS an_id
       |  FROM numident),
       |ad_map AS (
       |  SELECT record_id AS src,
       |         'altd_' || min(record_id) OVER (PARTITION BY ssn, dob_year, dob_month, dob_day) AS ad_id
       |  FROM numident),
       |itn AS (
       |  SELECT 'itn_' || min(record_id) AS record_id, ssn, first_name, last_name
       |  FROM t1040 WHERE ssn >= 900000000 GROUP BY ssn, first_name, last_name),
       |itn_map AS (
       |  SELECT record_id AS src,
       |         'itn_' || min(record_id) OVER (PARTITION BY ssn, first_name, last_name) AS itn_id
       |  FROM t1040 WHERE ssn >= 900000000),
       |ndrf AS MATERIALIZED (
       |  SELECT record_id, ssn, first_name, last_name, dob_year, dob_month, dob_day,
       |         an_id, ad_id, CAST(NULL AS VARCHAR) AS itn_id
       |  FROM ndr
       |  UNION ALL
       |  SELECT record_id, ssn, first_name, last_name,
       |         CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), record_id
       |  FROM itn),
       |ndrf_pairs AS MATERIALIZED (
       |  SELECT r.record_id, m.src FROM ndr r JOIN an_map m ON r.an_id = m.an_id
       |  UNION
       |  SELECT r.record_id, m.src FROM ndr r JOIN ad_map m ON r.ad_id = m.ad_id
       |  UNION
       |  SELECT f.record_id, m.src FROM ndrf f JOIN itn_map m ON f.itn_id = m.itn_id)""".stripMargin

  /** GeoBase CTEs (cell 84): the full name/DOB file LEFT JOIN
    * addresses_by_ssn on ssn, lineage = union of both parents'.
    */
  private val geobCtes: String =
    s"""geob AS MATERIALIZED (
       |  SELECT 'geo_' || r.record_id || '_' || coalesce(a.record_id, 'na') AS record_id,
       |         r.ssn, r.first_name, r.last_name,
       |         r.dob_year, r.dob_month, r.dob_day,
       |         a.street_num, a.street_std, a.city, a.state, a.zipcode,
       |         r.record_id AS ndr_id, a.record_id AS ab_id
       |  FROM ndrf r LEFT JOIN abys a ON r.ssn = a.ssn),
       |gpairs AS MATERIALIZED (
       |  SELECT g.record_id, p.src FROM geob g JOIN ndrf_pairs p ON g.ndr_id = p.record_id
       |  UNION
       |  SELECT g.record_id, m.src FROM geob g JOIN abys_map m ON g.ab_id = m.ab_id)""".stripMargin

  /** The whole tax → reference-file chain, built once per (session, dir)
    * and cached: q72/q117/q119/q120/q121 all consume overlapping pieces,
    * and Spark shares no work across DataFrame branches — without the
    * memo, q120's six output aggregates would each re-execute the full
    * noise + dedupe + merge DAG (measured 50 s at sf0.1 vs ~5 s memoized).
    * At 100 TB these are the persisted intermediate tables a real
    * pipeline writes between notebook-02 stages.
    */
  private final case class RefChain(
      t1040: DataFrame, w2: DataFrame,
      ndrFull: DataFrame, pFull: DataFrame,
      abys: DataFrame, pA: DataFrame,
      geob: DataFrame, pG: DataFrame) {
    def cached: Seq[DataFrame] =
      Seq(t1040, w2, ndrFull, pFull, abys, pA, geob, pG)
  }

  private val refChain = Memo[RefChain]("reffile_chain", _.cached) { (s, d) =>
    val t = t1040(s, d).cache()
    val w = w2(s, d).cache()
    val (ndrFull, pFull) = nameDobRefFull(s, d, t)
    val (abys, pA) = addressesBySsn(s, d, t, w)
    val (geob, pG) = Lineage.mergePreservingSourceRecords(
      ndrFull.cache(), pFull.cache(), abys.cache(), pA.cache(),
      Seq("ssn"), "geo")
    val chain = RefChain(t, w, ndrFull, pFull, abys, pA,
      geob.cache(), pG.cache())
    // geob and pG read every other stage, so these two jobs build the chain.
    Memo.materialize(chain.geob)
    Memo.materialize(chain.pG)
    chain
  }

  /** The notebook-04 accuracy inputs, memoized and cached like the chain:
    * q120 (the three definitions) and q122 (incorrect/missed diagnosis)
    * read the same resolved ground truth, crosswalk, assignment and
    * confirmed-link frames several times each.
    *
    *  - refGt: reference record → simulant(s) through lineage, with
    *    n_unique_simulants (04 cells 16/24-26).
    *  - piks: SSN→PIK crosswalk over the reference identifier set.
    *  - inRecs: the input file with its DETERMINISTIC pik assignment —
    *    holders link to their own SSN except the k%83 wrong-link slice
    *    (neighbor's pik) and the k%67 missed slice (no pik at all, the
    *    cascade "missed" them); ITIN filers link to their ITIN; SSN-less
    *    non-filers stay unPIKed (impossible to pik).
    *  - piked/confirmed: the assigned subset, record-level via each ssn's
    *    first GeoBase record (min record_id — deterministic).
    *  - psp: pik_simulant_pairs with n_unique_simulants per pik.
    */
  private final case class AccFrames(
      refGt: DataFrame, piks: DataFrame, inRecs: DataFrame,
      piked: DataFrame, confirmed: DataFrame, psp: DataFrame) {
    def cached: Seq[DataFrame] = Seq(refGt, piks, inRecs, piked, confirmed, psp)
  }

  private val accFrames = Memo[AccFrames]("reffile_accuracy", _.cached) { (s, d) =>
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val c = refChain(s, d)
    val truth = numident(s, d).select(col("record_id"), col("ssn").as("simulant_id"))
      .unionByName(c.t1040.select(col("record_id"), col("k").as("simulant_id")))
      .unionByName(c.w2.select(col("record_id"), col("k").as("simulant_id")))
    // localCheckpoint, not cache: these frames embed the WHOLE tax
    // chain in their logical plans, and q120's six output branches
    // would re-ANALYZE that tree per branch (~20 s of driver planning
    // at sf0.1, execution being trivial). Checkpointing truncates the
    // lineage so consumers plan over a LogicalRDD.
    //
    // The eager checkpoints materialize in DEPENDENCY WAVES: refGt, piks
    // and inRecs share no inputs beyond the already-cached chain, so
    // their jobs overlap instead of running back to back; psp and piked
    // both wait only on the first wave.
    val refGtF = Future(
      Lineage.resolveGroundTruth(c.pFull.unionByName(c.pG), truth)
        .withColumnRenamed("n_truths", "n_unique_simulants").localCheckpoint())
    val piksF = Future(DfOps.addContiguousId(
        c.ndrFull.select("ssn").distinct(), "ssn", "pik")
      .select("ssn", "pik").localCheckpoint())
    val holders = pmod(col("k"), lit(5)) =!= 4
    val itinFiler = pmod(col("k"), lit(5)) === 4 && pmod(col("k"), lit(3)) === 0
    val missedLink = holders && pmod(col("k"), lit(67)) === 0
    val wrongLink = holders && pmod(col("k"), lit(83)) === 0 &&
      pmod(col("k") + 1, lit(5)) =!= 4
    val inRecsF = Future(People.persons(s, d).select(
      concat(lit("cin_"), col("k")).as("in_id"),
      col("k").as("simulant_in"),
      when(missedLink, lit(null).cast("long"))
        .when(wrongLink, col("k") + 1)
        .when(holders, col("k"))
        .when(itinFiler, lit(900000000L) + col("k"))
        .otherwise(lit(null).cast("long")).as("assigned_ssn")).localCheckpoint())
    val refGt = Await.result(refGtF, Duration.Inf)
    val piks = Await.result(piksF, Duration.Inf)
    val inRecs = Await.result(inRecsF, Duration.Inf)
    val recPik = c.ndrFull.select("record_id", "ssn")
      .unionByName(c.geob.select("record_id", "ssn"))
      .join(piks, Seq("ssn"))
    val pspF = Future(refGt.join(recPik, Seq("record_id"))
      .select("pik", "simulant_id").distinct()
      .withColumn("nu", count(lit(1)).over(Window.partitionBy("pik")))
      .localCheckpoint())
    val pikedF = Future(inRecs
      .join(piks.withColumnRenamed("ssn", "assigned_ssn"), Seq("assigned_ssn"))
      .localCheckpoint())
    val psp = Await.result(pspF, Duration.Inf)
    val piked = Await.result(pikedF, Duration.Inf)
    val confirmed = piked.join(
      c.geob.groupBy("ssn").agg(min("record_id").as("ref_id"))
        .withColumnRenamed("ssn", "assigned_ssn"),
      Seq("assigned_ssn")).localCheckpoint()
    AccFrames(refGt, piks, inRecs, piked, confirmed, psp)
  }

  /** SQL mirror of [[accFrames]] (expects the refBase + geob CTEs in
    * scope) — shared verbatim by q120 and q122 so the accuracy inputs
    * cannot drift between the definition scores and the diagnosis.
    */
  private val accCtes: String =
    s"""truth AS (
       |  SELECT record_id, ssn AS simulant_id FROM numident
       |  UNION ALL SELECT record_id, k FROM t1040
       |  UNION ALL SELECT record_id, k FROM w2),
       |refgt AS MATERIALIZED (
       |  SELECT record_id, simulant_id,
       |         count(*) OVER (PARTITION BY record_id) AS n_unique_simulants
       |  FROM (SELECT DISTINCT p.record_id, t.simulant_id
       |        FROM (SELECT record_id, src FROM ndrf_pairs
       |              UNION SELECT record_id, src FROM gpairs) p
       |        JOIN truth t ON p.src = t.record_id)),
       |piks AS MATERIALIZED (
       |  SELECT ssn, row_number() OVER (ORDER BY ssn) - 1 AS pik
       |  FROM (SELECT DISTINCT ssn FROM ndrf) t),
       |recpik AS (
       |  SELECT r.record_id, p.pik
       |  FROM (SELECT record_id, ssn FROM ndrf
       |        UNION ALL SELECT record_id, ssn FROM geob) r
       |  JOIN piks p ON r.ssn = p.ssn),
       |psp AS MATERIALIZED (
       |  SELECT pik, simulant_id, count(*) OVER (PARTITION BY pik) AS nu
       |  FROM (SELECT DISTINCT rp.pik, g.simulant_id
       |        FROM refgt g JOIN recpik rp ON g.record_id = rp.record_id)),
       |inrecs AS MATERIALIZED (
       |  SELECT 'cin_' || CAST(k AS VARCHAR) AS in_id, k AS simulant_in,
       |         CASE WHEN k % 5 <> 4 AND k % 67 = 0 THEN NULL
       |              WHEN k % 5 <> 4 AND k % 83 = 0 AND (k + 1) % 5 <> 4 THEN k + 1
       |              WHEN k % 5 <> 4 THEN k
       |              WHEN k % 3 = 0 THEN 900000000 + k
       |              ELSE NULL END AS assigned_ssn
       |  FROM persons),
       |piked AS MATERIALIZED (
       |  SELECT i.in_id, i.simulant_in, i.assigned_ssn, p.pik
       |  FROM inrecs i JOIN piks p ON i.assigned_ssn = p.ssn),
       |confirmed AS MATERIALIZED (
       |  SELECT pk.in_id, pk.simulant_in, pk.pik, rc.ref_id
       |  FROM piked pk
       |  JOIN (SELECT ssn, min(record_id) AS ref_id FROM geob GROUP BY ssn) rc
       |    ON pk.assigned_ssn = rc.ssn)""".stripMargin

  private val refBase = s"$base,\n$taxCtes,\n$abysCtes,\n$ndrCtes"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      // Alternate-name file (cell 62): dedupe the numident on
      // (ssn, names), each output record carrying how many source rows
      // collapsed into it. One shuffle on the dedupe keys.
      "q71_alternate_names",
      (s, d) => {
        val n = numident(s, d)
        val (alt, pairs) = Lineage.dedupeRawPreservingSourceRecords(
          n, Seq("ssn", "first_name", "last_name"), "altn")
        alt.join(
          pairs.groupBy("record_id")
            .agg(countDistinct("source_record_id").as("n_sources")),
          Seq("record_id"))
          .select("record_id", "ssn", "first_name", "last_name", "n_sources")
      },
      Some(s"""$base
              |SELECT 'altn_' || min(record_id) AS record_id, ssn,
              |       first_name, last_name,
              |       count(DISTINCT record_id) AS n_sources
              |FROM numident
              |GROUP BY ssn, first_name, last_name""".stripMargin)
    ),
    QueryDef(
      // Name×DOB reference file (cells 66/70/76): alternate names LEFT
      // JOIN alternate DOBs on ssn — every name/DOB combination per
      // SSN-holder — CONCAT'd with the ITIN name records retained from
      // 1040 filings ("as well as ITIN data"). Joins on ssn only; lineage
      // via equi-joins + distinct.
      "q72_name_dob_reference",
      (s, d) => {
        val c = refChain(s, d)
        val (ndr, pM) = (c.ndrFull, c.pFull)
        ndr.join(
          pM.groupBy("record_id")
            .agg(countDistinct("source_record_id").as("n_sources")),
          Seq("record_id"))
          .select("record_id", "ssn", "first_name", "last_name",
            "dob_year", "dob_month", "dob_day", "n_sources")
      },
      Some(s"""$refBase,
              |counts AS (SELECT record_id, count(DISTINCT src) AS n_sources FROM ndrf_pairs GROUP BY record_id)
              |SELECT r.record_id, r.ssn, r.first_name, r.last_name,
              |       r.dob_year, r.dob_month, r.dob_day, c.n_sources
              |FROM ndrf r JOIN counts c ON r.record_id = c.record_id""".stripMargin)
    ),
    QueryDef(
      // SSN→PIK assignment (cell 114): distinct SSNs across the reference
      // files minted contiguous PIKs — range-partitioned id assignment,
      // no single-partition window.
      "q73_ssn_to_pik",
      (s, d) => {
        val ssns = numident(s, d).select("ssn").distinct()
        DfOps.addContiguousId(ssns, "ssn", "pik").select("ssn", "pik")
      },
      Some(s"""$base
              |SELECT ssn, row_number() OVER (ORDER BY ssn) - 1 AS pik
              |FROM (SELECT DISTINCT ssn FROM numident) t""".stripMargin)
    ),
    QueryDef(
      // The notebook-02 1040 noise chain (cells 24-26): wrong-boundary
      // name re-splits (1%), IRS last-name truncation to 4 chars (40%),
      // name-part shuffles (1%) — hash-gated instead of RNG-gated, so the
      // noise is reproducible under any partitioning and DuckDB renders
      // the identical transform.
      "q74_noise_inject",
      (s, d) => {
        val base = People.persons(s, d)
          .select("k", "first_name", "middle_initial", "last_name")
        val split = Noise.splitColumnsIncorrectly(base, nameCols, "k", 0.01, 1)
        val trunc = Noise.truncateColumn(split, "last_name", "k", 0.4, 4, 2)
        Noise.shuffleColumns(trunc, nameCols, "k", 0.01, 3)
      }, {
        val sp = Noise.splitColumnsIncorrectlySql(nameCols, "k", 0.01, 1)
        val tr = Noise.truncateColumnSql("last_name", "k", 0.4, 4, 2)
        val sh = Noise.shuffleColumnsSql(nameCols, "k", 0.01, 3)
        Some(s"""WITH ${People.personsCte},
                |split AS (
                |  SELECT k, ${sp("first_name")} AS first_name,
                |         ${sp("middle_initial")} AS middle_initial,
                |         ${sp("last_name")} AS last_name
                |  FROM persons),
                |trunc AS (
                |  SELECT k, first_name, middle_initial, $tr AS last_name
                |  FROM split)
                |SELECT k, ${sh("first_name")} AS first_name,
                |       ${sh("middle_initial")} AS middle_initial,
                |       ${sh("last_name")} AS last_name
                |FROM trunc""".stripMargin)
      }
    ),
    QueryDef(
      // best_data_from_columns (cell 60) as a hash-checked query: each
      // SSN keeps its best-dated filing — the era-1 refile normally wins,
      // but an invalid filing date (ssn%11) falls back to the least
      // likely date, so the era-0 record survives for those keys. One
      // window over the shuffle on ssn.
      "q86_best_data",
      (s, d) => {
        val n = numident(s, d).withColumn("filing_date",
          when(col("record_id").startsWith("num0_"), lit("20200101"))
            .when(pmod(col("ssn"), lit(11)) === 0, lit("not-a-date"))
            .otherwise(lit("20250101")))
        DfOps.bestDataFromColumns(n, Seq("ssn"), "filing_date")
      },
      Some(s"""$base,
              |dated AS (
              |  SELECT n.*, CASE WHEN record_id LIKE 'num0_%' THEN '20200101'
              |                   WHEN ssn % 11 = 0 THEN 'not-a-date'
              |                   ELSE '20250101' END AS filing_date
              |  FROM numident n),
              |ranked AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY ssn
              |             ORDER BY coalesce(try_strptime(filing_date, '%Y%m%d'),
              |                               TIMESTAMP '1900-01-01') DESC,
              |                      record_id DESC) AS rn
              |  FROM dated)
              |SELECT record_id, ssn, first_name, last_name, dob_year, dob_month, dob_day, filing_date
              |FROM ranked WHERE rn = 1""".stripMargin)
    ),
    QueryDef(
      // The notebook-01 pseudopeople column-noise surface at the
      // reference's very_noisy settings (cell 16): make_typos on name
      // columns (cell 0.1, token 0.1; middle initials cell 0.05, token 1),
      // write_wrong_digits on number columns (cell 0.1, token 0.1), plus
      // swap_month_and_day, misreport-age-style year shifts, and
      // leave_blank. Character-level noise runs as a codegen'd Catalyst
      // expression; DuckDB mirrors it with list_transform over the same
      // hash arithmetic, so the oracle hash-verifies every character.
      "q77_pseudopeople_noise",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val base = People.persons(s, d).select("k", "first_name", "last_name",
          "middle_initial", "street_num", "zipcode", "state",
          "dob_day", "dob_month", "dob_year")
        // Interpreted from the CONFIG (notebook 01's pseudopeople shape —
        // which noise types at which rates per column, as data);
        // Noise.applyConfig folds the entries through the same operators
        // the chain called, so the oracle hash is unchanged. An alternate
        // config is just another value — NoiseSpec exercises one.
        Noise.applyConfig(base, "k", veryNoisyConfig)
      }, {
        val sw = Noise.swapColumnsSql("dob_day", "dob_month", "k", 0.02, 21)
        Some(s"""WITH ${People.personsCte},
                |noised AS (
                |  SELECT k,
                |         ${Noise.makeTyposSql("first_name", "k", 0.10, 0.10, 11)} AS first_name,
                |         ${Noise.makeTyposSql("last_name", "k", 0.10, 0.10, 13)} AS last_name,
                |         ${Noise.makeTyposSql("middle_initial", "k", 0.05, 1.0, 15)} AS middle_initial,
                |         ${Noise.writeWrongDigitsSql("street_num", "k", 0.10, 0.10, 17)} AS street_num,
                |         ${Noise.writeWrongDigitsSql("zipcode", "k", 0.10, 0.10, 19)} AS zipcode,
                |         ${Noise.chooseWrongOptionSql("state", "k", People.states, 0.03, 27)} AS state,
                |         ${sw("dob_day")} AS dob_day,
                |         ${sw("dob_month")} AS dob_month,
                |         ${Noise.perturbIntSql("dob_year", "k", 0.01, Seq(-3, -2, -1, 1, 2, 3), 23)} AS dob_year
                |  FROM persons)
                |SELECT k, first_name, last_name,
                |       ${Noise.leaveBlankSql("middle_initial", "k", 0.02, 25)} AS middle_initial,
                |       street_num, zipcode, state, dob_day, dob_month, dob_year
                |FROM noised
                |WHERE ${Noise.omitRowsSql("k", 0.01, 29)}""".stripMargin)
      }
    ),
    QueryDef(
      // The GeoBase reference file build (reference 02 cell 84): the FULL
      // name×DOB reference file (numident combos + ITIN names) merged
      // with addresses_by_ssn — the deduped (ssn, address) combinations
      // across ALL tax filings (1040 + five W2/1099 years) — via the same
      // lineage-preserving merge. Every GeoBase record traces to the
      // numident filings AND the tax filings that produced it; moved
      // households carry BOTH their current and recent address rows. One
      // equi-join on ssn over the q72 chain; at scale each step is a
      // shuffle on its key, nothing driver-side.
      "q117_geobase_reference",
      (s, d) => {
        val c = refChain(s, d)
        val (geob, pG) = (c.geob, c.pG)
        geob.join(
          pG.groupBy("record_id")
            .agg(countDistinct("source_record_id").as("n_sources")),
          Seq("record_id"))
          .select("record_id", "ssn", "first_name", "last_name",
            "dob_year", "dob_month", "dob_day",
            "street_num", "street_std", "city", "state", "zipcode", "n_sources")
      },
      Some(s"""$refBase,
              |$geobCtes,
              |gcounts AS (SELECT record_id, count(DISTINCT src) AS n_sources FROM gpairs GROUP BY record_id)
              |SELECT g.record_id, g.ssn, g.first_name, g.last_name,
              |       g.dob_year, g.dob_month, g.dob_day,
              |       g.street_num, g.street_std, g.city, g.state, g.zipcode, c.n_sources
              |FROM geob g JOIN gcounts c ON g.record_id = c.record_id""".stripMargin)
    ),
    QueryDef(
      // ITIN incorporation (reference 02 cells 72-75): people WITHOUT an
      // SSN (the k%5=4 slice the census reference never covers) who filed
      // taxes get an ITIN-range identifier (9 + the filing key), and their
      // IDENTITY DATA comes from the 1040 filing — which carries the IRS
      // noise chain, including the 4-char last-name truncation (q74's
      // machinery; the reference notes ITIN PIKing is exactly where the
      // truncation bites). The combined SSN ∪ ITIN identifier set mints
      // contiguous PIKs the q73 way (range-partitioned, no global window).
      "q118_itin_incorporation",
      (s, d) => {
        val p = People.persons(s, d)
        val ssa = p.filter(pmod(col("k"), lit(5)) =!= 4)
          .select(col("k").as("id"), lit("ssn").as("id_type"),
            col("first_name"), col("middle_initial"), col("last_name"))
        val filers = p.filter(pmod(col("k"), lit(5)) === 4 && pmod(col("k"), lit(3)) === 0)
          .select("k", "first_name", "middle_initial", "last_name")
        val split = Noise.splitColumnsIncorrectly(filers, nameCols, "k", 0.01, 1)
        val trunc = Noise.truncateColumn(split, "last_name", "k", 0.4, 4, 2)
        val noised = Noise.shuffleColumns(trunc, nameCols, "k", 0.01, 3)
        val itin = noised.select(
          (lit(900000000L) + col("k")).as("id"), lit("itin").as("id_type"),
          col("first_name"), col("middle_initial"), col("last_name"))
        val ids = ssa.unionByName(itin)
        DfOps.addContiguousId(ids, "id", "pik")
          .select("pik", "id", "id_type", "first_name", "middle_initial", "last_name")
      }, {
        val sp = Noise.splitColumnsIncorrectlySql(nameCols, "k", 0.01, 1)
        val tr = Noise.truncateColumnSql("last_name", "k", 0.4, 4, 2)
        val sh = Noise.shuffleColumnsSql(nameCols, "k", 0.01, 3)
        Some(s"""WITH ${People.personsCte},
                |ssa AS (
                |  SELECT k AS id, 'ssn' AS id_type, first_name, middle_initial, last_name
                |  FROM persons WHERE k % 5 <> 4),
                |split AS (
                |  SELECT k, ${sp("first_name")} AS first_name,
                |         ${sp("middle_initial")} AS middle_initial,
                |         ${sp("last_name")} AS last_name
                |  FROM persons WHERE k % 5 = 4 AND k % 3 = 0),
                |trunc AS (
                |  SELECT k, first_name, middle_initial, $tr AS last_name
                |  FROM split),
                |itin AS (
                |  SELECT 900000000 + k AS id, 'itin' AS id_type,
                |         ${sh("first_name")} AS first_name,
                |         ${sh("middle_initial")} AS middle_initial,
                |         ${sh("last_name")} AS last_name
                |  FROM trunc),
                |allids AS (
                |  SELECT * FROM ssa UNION ALL SELECT * FROM itin)
                |SELECT row_number() OVER (ORDER BY id) - 1 AS pik, id, id_type,
                |       first_name, middle_initial, last_name
                |FROM allids""".stripMargin)
      }
    ),
    QueryDef(
      // The W2/1099 multi-year tax source itself (reference 02 cells
      // 29-34): the last five tax years concat'd, per-year presence, the
      // IRS noise chain applied per filing, each row carrying its tax
      // year and source file — the per-source lineage the reference keeps
      // via record_id_to_single_source_record_pairs. The 5-way year
      // expansion is an explode (flatMap), not a join; linear at scale.
      "q119_w2_source",
      (s, d) => refChain(s, d).w2
        .withColumn("source", lit("w2_1099"))
        .select("record_id", "source", "tax_year", "ssn",
          "first_name", "middle_initial", "last_name",
          "street_num", "street_std", "city", "state", "zipcode"),
      Some(s"""WITH ${People.personsCte},
              |$taxCtes
              |SELECT record_id, 'w2_1099' AS source, tax_year, ssn,
              |       first_name, middle_initial, last_name,
              |       street_num, street_std, city, state, zipcode
              |FROM w2""".stripMargin)
    ),
    QueryDef(
      // addresses_by_ssn (reference 02 cell 80): all tax filings' (ssn,
      // standardized address) combinations deduped with lineage — the
      // GeoBase's address side. n_sources counts how many filings (across
      // 1040 + five W2 years) reported that exact address.
      "q121_addresses_by_ssn",
      (s, d) => {
        val c = refChain(s, d)
        val (abys, pA) = (c.abys, c.pA)
        abys.join(
          pA.groupBy("record_id")
            .agg(countDistinct("source_record_id").as("n_sources")),
          Seq("record_id"))
          .select("record_id", "ssn", "street_num", "street_std",
            "city", "state", "zipcode", "n_sources")
      },
      Some(s"""WITH ${People.personsCte},
              |$taxCtes,
              |$abysCtes,
              |acounts AS (SELECT ab_id, count(DISTINCT src) AS n_sources FROM abys_map GROUP BY ab_id)
              |SELECT a.record_id, a.ssn, a.street_num, a.street_std,
              |       a.city, a.state, a.zipcode, c.n_sources
              |FROM abys a JOIN acounts c ON a.record_id = c.ab_id""".stripMargin)
    ),
    QueryDef(
      // Notebook-04 accuracy Definitions 1/2/3 (cells 24-52), computed
      // through reference-file LINEAGE: resolve each reference record's
      // simulants via its source-record pairings (cell 87), build
      // pik_simulant_pairs with n_unique_simulants (cells 24-26 — the
      // wrong-SSN W2 filings make some PIKs genuinely multi-simulant),
      // then score a deterministic PIK assignment of the input file at
      // both the PIK level and the record level:
      //   1 (strict)  — multi-simulant PIK assignments are incorrect;
      //   2           — they are excluded from the denominator;
      //   3 (lenient) — correct if ANY simulant matches the truth.
      // Every step is an equi-join or key-shuffle; the final six scalars
      // cross-join 1-row aggregates (intended, PlanSpec-allowlisted).
      "q120_accuracy_definitions",
      (s, d) => {
        val a = accFrames(s, d)
        val (refGt, psp, piked, confirmed) = (a.refGt, a.psp, a.piked, a.confirmed)
        val refGtByRef = refGt.withColumnRenamed("record_id", "ref_id")
        val assigned = piked.agg(count(lit(1)).as("den"))
        val d2pd = piked.join(psp.filter(col("nu") === 1), Seq("pik"))
          .agg(count(lit(1)).as("den"))
        val d2rd = confirmed.join(refGtByRef, Seq("ref_id"))
          .agg(coalesce(sum(when(col("n_unique_simulants") === 1, 1L).otherwise(0L)),
            lit(0L)).as("den"))
        val d1p = piked.join(psp, Seq("pik"))
          .agg(coalesce(sum(when(col("simulant_id") === col("simulant_in") &&
            col("nu") === 1, 1L).otherwise(0L)), lit(0L)).as("num"))
        val d1r = confirmed.join(refGtByRef, Seq("ref_id"))
          .agg(coalesce(sum(when(col("simulant_id") === col("simulant_in") &&
            col("n_unique_simulants") === 1, 1L).otherwise(0L)), lit(0L)).as("num"))
        val d3p = piked.join(psp, Seq("pik"))
          .select("in_id", "pik", "simulant_in", "simulant_id").distinct()
          .groupBy("in_id", "pik")
          .agg(max(when(col("simulant_id") === col("simulant_in"), 1L)
            .otherwise(0L)).as("c"))
          .agg(coalesce(sum("c"), lit(0L)).as("num"))
        val d3r = confirmed.join(refGtByRef, Seq("ref_id"))
          .groupBy("in_id", "ref_id")
          .agg(max(when(col("simulant_id") === col("simulant_in"), 1L)
            .otherwise(0L)).as("c"))
          .agg(coalesce(sum("c"), lit(0L)).as("num"))
        def row(defn: Int, level: String, num: DataFrame, den: DataFrame): DataFrame =
          num.crossJoin(den).select(
            lit(defn).as("definition"), lit(level).as("level"),
            col("num").as("numerator"), col("den").as("denominator"))
        Seq(
          row(1, "pik", d1p, assigned), row(1, "record", d1r, assigned),
          row(2, "pik", d1p, d2pd), row(2, "record", d1r, d2rd),
          row(3, "pik", d3p, assigned), row(3, "record", d3r, assigned))
          .reduce(_ unionByName _)
          .withColumn("accuracy",
            col("numerator").cast("double") / col("denominator").cast("double"))
      },
      Some(s"""$refBase,
              |$geobCtes,
              |$accCtes,
              |assigned AS (SELECT count(*) AS den FROM piked),
              |d1p AS (SELECT CAST(coalesce(sum(CASE WHEN s.simulant_id = pk.simulant_in
              |                  AND s.nu = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS num
              |        FROM piked pk JOIN psp s ON pk.pik = s.pik),
              |d1r AS (SELECT CAST(coalesce(sum(CASE WHEN g.simulant_id = c.simulant_in
              |                  AND g.n_unique_simulants = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS num
              |        FROM confirmed c JOIN refgt g ON c.ref_id = g.record_id),
              |d2pd AS (SELECT count(*) AS den
              |         FROM piked pk JOIN psp s ON pk.pik = s.pik AND s.nu = 1),
              |d2rd AS (SELECT CAST(coalesce(sum(CASE WHEN g.n_unique_simulants = 1
              |                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS den
              |         FROM confirmed c JOIN refgt g ON c.ref_id = g.record_id),
              |d3p AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS num FROM (
              |          SELECT in_id, pik,
              |                 max(CASE WHEN simulant_id = simulant_in THEN 1 ELSE 0 END) AS c
              |          FROM (SELECT DISTINCT pk.in_id, pk.pik, pk.simulant_in, s.simulant_id
              |                FROM piked pk JOIN psp s ON pk.pik = s.pik)
              |          GROUP BY in_id, pik)),
              |d3r AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS num FROM (
              |          SELECT c.in_id, c.ref_id,
              |                 max(CASE WHEN g.simulant_id = c.simulant_in THEN 1 ELSE 0 END) AS c
              |          FROM confirmed c JOIN refgt g ON c.ref_id = g.record_id
              |          GROUP BY c.in_id, c.ref_id))
              |SELECT definition, level, numerator, denominator,
              |       numerator * 1.0 / denominator AS accuracy
              |FROM (
              |  SELECT 1 AS definition, 'pik' AS level, d1p.num AS numerator,
              |         assigned.den AS denominator FROM d1p, assigned
              |  UNION ALL SELECT 1, 'record', d1r.num, assigned.den FROM d1r, assigned
              |  UNION ALL SELECT 2, 'pik', d1p.num, d2pd.den FROM d1p, d2pd
              |  UNION ALL SELECT 2, 'record', d1r.num, d2rd.den FROM d1r, d2rd
              |  UNION ALL SELECT 3, 'pik', d3p.num, assigned.den FROM d3p, assigned
              |  UNION ALL SELECT 3, 'record', d3r.num, assigned.den FROM d3r, assigned
              |) accrows""".stripMargin)
    ),
    QueryDef(
      // Incorrect and missed links (04 cells 60-72): the diagnosis frames
      // a linkage analyst reads after the definitions. `incorrect` = the
      // distinct confirmed (input, reference-record) pairs where NO
      // simulant of the linked reference record matches the input's truth
      // (cell 61 — definition-3-false links, here the k%83 wrong-link
      // slice). `missed` = unPIKed input records joined through ground
      // truth to the single-simulant reference records they COULD have
      // matched (cell 66 — the k%67 missed-holder slice; SSN-less
      // non-filers have no reference records at all and correctly emit
      // nothing: they are impossible to PIK, not missed). Equi-joins on
      // pik/simulant keys throughout.
      "q122_link_diagnosis",
      (s, d) => {
        val a = accFrames(s, d)
        val incorrect = a.confirmed
          .join(a.refGt.withColumnRenamed("record_id", "ref_id"), Seq("ref_id"))
          .groupBy("in_id", "ref_id")
          .agg(max(when(col("simulant_id") === col("simulant_in"), 1L)
            .otherwise(0L)).as("c"))
          .filter(col("c") === 0)
          .select(lit("incorrect").as("kind"), col("in_id"), col("ref_id"))
        val missed = a.inRecs
          .join(a.piks.withColumnRenamed("ssn", "assigned_ssn"),
            Seq("assigned_ssn"), "left")
          .filter(col("pik").isNull)
          .join(a.refGt.filter(col("n_unique_simulants") === 1)
              .select(col("record_id").as("ref_id"), col("simulant_id")),
            col("simulant_id") === col("simulant_in"))
          .select(lit("missed").as("kind"), col("in_id"), col("ref_id"))
        incorrect.unionByName(missed)
      },
      Some(s"""$refBase,
              |$geobCtes,
              |$accCtes,
              |incorrect AS (
              |  SELECT c.in_id, c.ref_id
              |  FROM confirmed c JOIN refgt g ON c.ref_id = g.record_id
              |  GROUP BY c.in_id, c.ref_id
              |  HAVING max(CASE WHEN g.simulant_id = c.simulant_in THEN 1 ELSE 0 END) = 0),
              |missed AS (
              |  SELECT i.in_id, g.record_id AS ref_id
              |  FROM inrecs i
              |  LEFT JOIN piks p ON i.assigned_ssn = p.ssn
              |  JOIN refgt g ON g.simulant_id = i.simulant_in
              |       AND g.n_unique_simulants = 1
              |  WHERE p.ssn IS NULL)
              |SELECT 'incorrect' AS kind, in_id, ref_id FROM incorrect
              |UNION ALL SELECT 'missed', in_id, ref_id FROM missed""".stripMargin)
    ),
    QueryDef(
      // The PVS Verification Module (reference 03 cell 81, Wagner & Layne
      // p. 14: "If the input file has a SSN data field, it first goes
      // through the verification process"). The reference SKIPS it only
      // because the CUF carries no SSN — an SSN-carrying input file (tax
      // filings, admin records) hits it first, so the library offers it:
      // each filing's reported SSN joins the numident identity for that
      // SSN, names verify by Jaro-Winkler agreement (the codegen'd
      // expression with exact DuckDB parity), verified filings take the
      // SSN's PIK directly and everything else falls through to the
      // cascade. The wrong-SSN W2 slice is exactly what verification
      // exists to catch: the reported SSN resolves to the NEIGHBOR's
      // identity, the names disagree, outcome 'failed'. ITIN filings
      // ('unknown_ssn') are the coverage gap the ITIN incorporation
      // (q118) closes. One broadcast-or-shuffle equi-join on ssn.
      "q125_verification_module",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        import graft.functions.GraftFunctions.jaroWinkler
        val ident = numident(s, d).filter(col("record_id").startsWith("num0_"))
          .select(col("ssn"), col("first_name").as("ref_first"),
            col("last_name").as("ref_last"))
        val piks = DfOps.addContiguousId(
          numident(s, d).select("ssn").distinct(), "ssn", "pik")
          .select("ssn", "pik")
        val jwF = round(jaroWinkler(col("first_name"), col("ref_first")), 6)
        val jwL = round(jaroWinkler(col("last_name"), col("ref_last")), 6)
        val agree = jwF >= 0.85 && jwL >= 0.8
        refChain(s, d).w2.select("record_id", "ssn", "first_name", "last_name")
          .join(ident, Seq("ssn"), "left")
          .join(piks, Seq("ssn"), "left")
          .select(col("record_id"), col("ssn"),
            when(col("ref_first").isNull, lit("unknown_ssn"))
              .when(agree, lit("verified"))
              .otherwise(lit("failed")).as("outcome"),
            when(col("ref_first").isNotNull && agree, col("pik"))
              .otherwise(lit(null).cast("long")).as("pik"))
      }, {
        val jwF = "round(jaro_winkler_similarity(w.first_name, i.ref_first), 6)"
        val jwL = "round(jaro_winkler_similarity(w.last_name, i.ref_last), 6)"
        Some(s"""$base,
                |$taxCtes,
                |ident AS (
                |  SELECT ssn, first_name AS ref_first, last_name AS ref_last
                |  FROM numident WHERE record_id LIKE 'num0_%'),
                |piks AS (
                |  SELECT ssn, row_number() OVER (ORDER BY ssn) - 1 AS pik
                |  FROM (SELECT DISTINCT ssn FROM numident) t)
                |SELECT w.record_id, w.ssn,
                |       CASE WHEN i.ref_first IS NULL THEN 'unknown_ssn'
                |            WHEN $jwF >= 0.85 AND $jwL >= 0.8 THEN 'verified'
                |            ELSE 'failed' END AS outcome,
                |       CASE WHEN i.ref_first IS NOT NULL
                |             AND $jwF >= 0.85 AND $jwL >= 0.8 THEN p.pik
                |            ELSE NULL END AS pik
                |FROM w2 w
                |LEFT JOIN ident i ON w.ssn = i.ssn
                |LEFT JOIN piks p ON w.ssn = p.ssn""".stripMargin)
      }
    )
  )
}
