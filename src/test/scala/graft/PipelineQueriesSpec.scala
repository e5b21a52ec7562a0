package graft

import graft.queries.PipelineQueries
import org.apache.spark.sql.functions._

class PipelineQueriesSpec extends SparkTestBase {

  private val byName = PipelineQueries.defs.map(d => d.name -> d).toMap

  test("all pipeline queries run and return rows at sf0.001") {
    PipelineQueries.defs.foreach { d =>
      assert(d.query(spark, sfDir).count() > 0, s"${d.name} returned no rows")
    }
  }

  test("short documents: wordShingles is empty, repetition guards div-by-zero") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Seq("one", "two words", "a b c", "x").toDF("text")
    val grams = docs.select(TextOps.wordShingles(col("text"), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(grams.map(_.size).toSeq == Seq(0, 0, 1, 0))
    // q55's repetition arithmetic on a one-word doc must not throw and must
    // yield NULL ratio (no adjacent pair exists).
    val w = TextOps.words(col("text"))
    val adj = when(size(w) <= 1, lit(0)).otherwise(
      size(filter(sequence(lit(1), size(w) - 1),
        i => element_at(w, i) === element_at(w, i + 1))))
    val r = docs.select(adj.as("n"),
      when(size(w) <= 1, lit(null).cast("double"))
        .otherwise(adj.cast("double") / (size(w) - 1).cast("double")).as("ratio"))
      .collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(0, 0, 0, 0))
    assert(r(0).isNullAt(1) && r(3).isNullAt(1) && !r(1).isNullAt(1))
  }

  test("q40 exact dedup finds exactly the planted copies") {
    val dups = byName("q40_dedup_exact").query(spark, sfDir)
      .filter(col("n_copies") > 1).collect()
    // doc_id%7==0 docs get an exact copy; every dup group keeps the original
    // id and has exactly 2 copies.
    assert(dups.nonEmpty)
    dups.foreach { r =>
      assert(r.getLong(2) == 2, s"unexpected copy count: $r")
      assert(r.getLong(1) % 7 == 0, s"kept id is not an original: $r")
    }
  }

  test("q41 minhash-LSH recovers every planted near-dup pair") {
    val pairs = byName("q41_minhash_lsh").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    val planted = docIds.filter(_ % 10 == 0).map(id => (id, id + 100000L))
    planted.foreach(p => assert(pairs.contains(p), s"missed planted near-dup $p"))
  }

  test("q100 incremental LSH: exact-copy arrivals all match their corpus original") {
    val pairs = byName("q100_incremental_lsh").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    // Identical text ⇒ identical signature ⇒ every band collides; an exact
    // copy can only be missed if the pipeline recomputed/mismatched sides.
    val exact = docIds.filter(_ % 7 == 0).map(id => (id, id + 200000L))
    exact.foreach(p => assert(pairs.contains(p), s"missed exact-copy arrival $p"))
    // Delta-internal pairs must NOT appear: both ids >= 100000 is a bug.
    assert(pairs.forall { case (c, n) => c < 100000L && n >= 100000L })
  }

  test("q102 line dedup: exact-copy docs lose every chunk, uniques keep all") {
    val rows = byName("q102_line_dedup").query(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    // Every chunk of an exact-copy pair occurs in 2 docs ⇒ all boilerplate.
    docIds.filter(_ % 7 == 0).foreach { id =>
      val (n, b, kept) = rows(id + 200000L)
      assert(n == b && kept.isEmpty, s"copy ${id + 200000} kept chunks: $kept")
    }
    // Docs in no dup group mostly keep everything; the small-vocabulary
    // corpus makes occasional chance chunk collisions legitimate, so the
    // assertion is on the population, not each doc.
    val uniques = docIds.filter(id => id % 7 != 0 && id % 10 != 0)
    assert(uniques.nonEmpty)
    val clean = uniques.count(id => rows(id)._2 == 0)
    assert(clean * 10 >= uniques.length * 6,
      s"only $clean of ${uniques.length} unique docs kept all chunks")
    // Near-dup variants drop their FIRST word, shifting every chunk
    // boundary — line-dedup intentionally does not catch shifted text
    // (that's the shingle family's job). Population-level again: short
    // docs in the tiny-vocabulary corpus can lose their few chunks to
    // chance collisions, but most shifted variants must survive.
    val nears = docIds.filter(_ % 10 == 0).map(id => rows(id + 100000L))
    assert(nears.nonEmpty)
    assert(nears.count { case (n, b, _) => b < n } * 2 > nears.length,
      s"most shifted near-dups were fully removed: $nears")
  }

  test("q42 simhash: planted dup pairs all at hamming <= 3") {
    val pairs = byName("q42_simhash").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    val exact = docIds.filter(_ % 7 == 0).map(id => (id, id + 200000L))
    exact.foreach(p => assert(pairs.contains(p), s"missed planted exact dup $p"))
  }

  test("q42 chunk-group scheme: exact hamming<=3 recall, table inventory pinned") {
    // The combo inventory the scheme derives from: C(6,1)/C(6,2)/C(6,3)
    // tables per group size, ids disjoint across sizes.
    val byG = PipelineQueries.simhashCombos.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byG == Map(1 -> 6, 2 -> 15, 3 -> 20))
    assert(PipelineQueries.simhashCombos.map(_._2).distinct.size == 41)
    // Pigeonhole guarantee end-to-end: q42's candidate scheme must emit
    // EXACTLY the hamming<=3 pairs of the all-pairs reference (the hub
    // cap never binds at test SF) — no recall loss, no phantom pairs.
    val sig = PipelineQueries.simhashSigs(spark, sfDir).cache()
    val exact = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = byName("q42_simhash").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact, s"q42 diverged from the exact hamming<=3 set: " +
      s"missed=${(exact -- got).take(5)} extra=${(got -- exact).take(5)}")
    sig.unpersist()
  }

  test("q155 image dHash: star+rep edges induce the exact hamming<=3 components") {
    // q155 compresses the hamming<=3 pair relation into star edges (one
    // per class member) + one edge per near-dup representative pair —
    // linear output. The compression must be LOSSLESS for clustering:
    // the connected components of q155's edge set equal those of the
    // full all-pairs hamming<=3 graph (both computed here by driver
    // union-find over the sf test corpus).
    val sig = PipelineQueries.imageDhashSigs(spark, sfDir).cache()
    val sigRows = sig.collect().map(r => (r.getLong(0), r.getLong(1)))
    val full = for {
      (a, sa) <- sigRows; (b, sb) <- sigRows
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)
    val got = byName("q155_image_dhash").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // Every emitted edge is a true hamming<=3 pair with its true hamming.
    val sigMap = sigRows.toMap
    got.foreach { case (a, b, h) =>
      val real = java.lang.Long.bitCount(sigMap(a) ^ sigMap(b))
      assert(real == h && h <= 3, s"edge ($a,$b,$h) real hamming $real")
    }
    def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      sigRows.foreach { case (id, _) => find(id) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      sigRows.map { case (id, _) => id -> find(id) }.toMap
    }
    val cFull = components(full)
    val cGot = components(got.map(e => (e._1, e._2)))
    assert(cFull == cGot, "q155's compressed edges changed the hamming<=3 components")
    // Exact copies (doc_id%7, +200000) share a signature, so each must sit
    // in its base's component.
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    docIds.filter(_ % 7 == 0).foreach { id =>
      assert(cGot(id) == cGot(id + 200000L), s"exact image copy $id disconnected")
    }
    sig.unpersist()
  }

  test("q155 dHash is invariant under uniform brightness shift, sensitive to the artifact") {
    import graft.operators.Multimodal
    // gray = r+g+b compares ADJACENT grid cells, so adding a constant to
    // every pixel byte (no wraparound) leaves every comparison — and the
    // hash — unchanged: the perceptual property byte hashing lacks.
    def dhash(content: Array[Byte]): Long = {
      val img = Multimodal.resizePpm(Multimodal.decodePpm(content), 11, 6)
      def gray(x: Int, y: Int): Int = {
        val i = (y * 11 + x) * 3
        (img.pixels(i) & 0xff) + (img.pixels(i + 1) & 0xff) + (img.pixels(i + 2) & 0xff)
      }
      var sig = 0L
      for (y <- 0 until 6; x <- 0 until 10)
        if (gray(x, y) > gray(x + 1, y)) sig |= 1L << (y * 10 + x)
      sig
    }
    val seed = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val base = Multimodal.encodePpm(12, 9, seed)
    val brighter = Multimodal.encodePpm(12, 9, seed.map(b => (b + 40).toByte))
    assert(dhash(base) == dhash(brighter), "uniform brightness shift changed the dHash")
    // The corner artifact moves only the bits whose grid cells sample the
    // patched pixels — a near-dup, not a distinct image.
    val px = Multimodal.decodePpm(base).pixels
    (0 until 9).foreach(i => px(i) = 255.toByte)
    val artifact = Multimodal.encodePpm(12, 9, px)
    val d = java.lang.Long.bitCount(dhash(base) ^ dhash(artifact))
    assert(d <= 6, s"corner artifact moved $d bits — not a near-dup signature")
  }

  test("simhash scheme selector: widened chunks past 2^30, g derived, pigeonhole holds end-to-end") {
    import graft.queries.PipelineQueries.{simhashSchemeFor, SimScheme}
    // Selection pinned at synthetic counts: 10-bit chunks up to 2^30
    // with the derived g, then 20-bit chunks with g re-derived against
    // the widened capacity — same 6-chunk geometry and C(6,g) tables.
    assert(simhashSchemeFor(1000L) == SimScheme(60, 10, 1, 6))
    assert(simhashSchemeFor(1L << 10) == SimScheme(60, 10, 1, 6))
    assert(simhashSchemeFor((1L << 10) + 1) == SimScheme(60, 10, 2, 15))
    assert(simhashSchemeFor(1L << 20) == SimScheme(60, 10, 2, 15))
    assert(simhashSchemeFor((1L << 20) + 1) == SimScheme(60, 10, 3, 20))
    assert(simhashSchemeFor(1L << 30) == SimScheme(60, 10, 3, 20))
    assert(simhashSchemeFor((1L << 30) + 1) == SimScheme(120, 20, 2, 15))
    assert(simhashSchemeFor(1L << 40) == SimScheme(120, 20, 2, 15))
    assert(simhashSchemeFor((1L << 40) + 1) == SimScheme(120, 20, 3, 20))
    assert(simhashSchemeFor(1L << 59) == SimScheme(120, 20, 3, 20))
    // The widened signature + banding machinery runs TODAY at the test
    // SF and satisfies the same exactness the 60-bit spec pins: the
    // candidate scheme emits exactly the hamming<=3 pairs of the
    // all-pairs reference over the 120-bit signatures.
    val sig = PipelineQueries.simhashSigsWide(spark, sfDir).cache()
    val rows = sig.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (_, hi, lo) =>
      assert(hi >= 0 && lo >= 0, "packed signature half went negative")
    }
    val exact = (for {
      (a, ha, la) <- rows; (b, hb, lb) <- rows
      if a < b &&
        java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb) <= 3
    } yield (a, b)).toSet
    val got = PipelineQueries.hamming3PairsWide(sig)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact, s"wide scheme diverged from the exact hamming<=3 set: " +
      s"missed=${(exact -- got).take(5)} extra=${(got -- exact).take(5)}")
    // Planted exact copies hash identically in the wide scheme too.
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    docIds.filter(_ % 7 == 0).foreach { id =>
      assert(got.contains((id, id + 200000L)), s"wide scheme missed exact copy $id")
    }
    sig.unpersist()
  }

  test("bpe training reaches 256 merges and leaks no persisted RDD") {
    import graft.operators.Bpe
    // Synthetic wide-vocabulary corpus (3000 distinct ~8-char words): the
    // sf0.001 documents exhaust their pair space at 89 merges, too
    // shallow for the depth contract below.
    val words = (0 until 3000).map { i =>
      val s = new StringBuilder
      var v = i + 26 * 26 * 26
      while (v > 0) { s.append(('a' + v % 26).toChar); v /= 26 }
      s.toString * 2
    }
    val docs = spark.createDataFrame(
      words.grouped(10).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq)
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // DEEP run (hundreds of merges): training must reach the full depth
    // and leave nothing persisted behind.
    val merges = Bpe.trainMerges(docs, m = 256)
    assert(merges.size == 256,
      s"corpus exhausted at ${merges.size} merges — fixture too small for the depth test")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"training leaked persisted RDDs: $leaked")
  }

  test("q146 chunk windows: stride reassembly reproduces every doc, real overlap") {
    val rows = byName("q146_chunk_windows").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val S = PipelineQueries.ChunkStride
    val W = PipelineQueries.ChunkW
    assert(rows.keySet == texts.keySet, "chunking dropped or invented docs")
    var multi = 0
    rows.foreach { case (id, cs) =>
      // chunk ids contiguous from 0; every chunk bounded by W words
      assert(cs.map(_._2).toSeq == (0L until cs.length).toSeq, s"doc $id ids")
      assert(cs.forall(_._3 <= W), s"doc $id has an over-wide chunk")
      // Reassembly: the first S words of every non-final chunk plus the
      // whole final chunk reproduce the document exactly — the stride
      // owns each word once, the W−S overlap is surplus context.
      val rebuilt = (cs.init.map(_._4.split(" ", -1).take(S).mkString(" ")) :+
        cs.last._4).mkString(" ")
      assert(rebuilt == texts(id), s"doc $id reassembly diverged")
      // Overlap is real: each next chunk starts with the previous
      // chunk's last W−S words (when the previous chunk is full).
      cs.sliding(2).foreach {
        case Array(a, b) if a._3 == W =>
          val tailW = a._4.split(" ", -1).drop(S).mkString(" ")
          assert(b._4.startsWith(tailW), s"doc $id chunk ${b._2} lost overlap")
        case _ =>
      }
      if (cs.length > 1) multi += 1
    }
    assert(multi > 0, "fixture produced no multi-chunk docs")
  }

  test("q147 BM25: two-level top-k equals an independent brute-force ranking") {
    val K1 = 1.2; val B = 0.75
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val dl = docs.map { case (id, w) => id -> w.length.toLong }.toMap
    val avgdl = dl.values.sum.toDouble / dl.size
    val n = docs.length.toLong
    val tf = docs.flatMap { case (id, w) =>
      w.groupBy(identity).map { case (t, xs) => (id, t, xs.length.toLong) }
    }
    val df = tf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // fixture query terms: df rank 17-32 (desc df, asc word), paired
    val qt = df.toSeq.sortBy { case (w, c) => (-c, w) }.slice(16, 32)
      .zipWithIndex.map { case ((w, c), i) => (i / 2).toLong -> (w, c) }
    val brute = tf.flatMap { case (id, t, f) =>
      qt.collect { case (qid, (w, dfw)) if w == t =>
        val idf = math.log((n - dfw + 0.5) / (dfw + 0.5) + 1.0)
        (qid, id) -> idf * (f * 2.2) / (f + K1 * (1 - B + B * dl(id) / avgdl))
      }
    }.groupBy(_._1).view.mapValues(v =>
      BigDecimal(v.map(_._2).sum).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble).toMap
    val expect = brute.toSeq.map { case ((qid, id), s) => (qid, id, s) }
      .groupBy(_._1).flatMap { case (qid, xs) =>
        xs.sortBy(x => (-x._3, x._2)).take(PipelineQueries.Bm25TopK)
          .zipWithIndex.map { case ((_, id, s), i) => (qid, i + 1, id, s) }
      }.toSet
    val got = byName("q147_bm25_topk").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expect,
      s"two-level top-k diverged from brute BM25: only-got=${got -- expect} only-expect=${expect -- got}")
    assert(got.map(_._1) == (0L until 8L).toSet, "fixture should yield 8 queries")
  }

  test("q148 shuffle-shard: exact partition, contiguous positions, real shuffle") {
    val rows = byName("q148_shuffle_shard").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val allDocs = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_._3).toSet == allDocs && rows.length == allDocs.size,
      "sharding dropped or duplicated docs")
    val byShard = rows.groupBy(_._1)
    assert(byShard.keySet.forall(s => s >= 0 && s < PipelineQueries.ShuffleShards))
    byShard.foreach { case (sh, xs) =>
      assert(xs.map(_._2).sorted.toSeq == (1 to xs.length).toSeq,
        s"shard $sh positions not contiguous")
    }
    // hash balance: no shard more than 3x the mean occupancy
    val mean = rows.length.toDouble / byShard.size
    assert(byShard.values.forall(_.length <= 3 * mean), "shard skew beyond hash variance")
    // the order is a real shuffle, not doc_id order
    val monotone = byShard.values.count { xs =>
      val ids = xs.sortBy(_._2).map(_._3)
      ids.sorted.sameElements(ids)
    }
    assert(monotone < byShard.size, "every shard kept ascending doc_id order — no shuffle")
  }

  test("q44 KNN returns exactly 5 ordered neighbors per query") {
    val rows = byName("q44_cosine_knn").query(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q has ${rs.length} neighbors")
      val cs = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"not sorted for $q")
    }
  }

  test("q51 embedding dedup finds the planted zero-component variants") {
    val pairs = byName("q51_embedding_dedup").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecIds = Tables.embeddings(spark, sfDir).select("vec_id")
      .collect().map(_.getLong(0))
    val planted = vecIds.filter(_ % 20 == 0).map(id => (id, id + 100000L))
    planted.foreach(p => assert(pairs.contains(p), s"missed planted variant $p"))
  }

  test("q51 bucketed candidates: pair set equals the exact label join, plan joins on IVF cells") {
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    val df = byName("q51_embedding_dedup").query(spark, sfDir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact reference: the label-blocked quadratic join (the pre-banding
    // q51) — the banded candidates must not lose a single pair on the
    // test data.
    val e = PipelineQueries.embWithDups(spark, sfDir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    val exactCos =
      VectorOps.dotDecimal(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))
    val expected = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id") &&
          exactCos >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"celled pair set != exact label join: missing ${(expected -- got).take(5)}, " +
        s"extra ${(got -- expected).take(5)}")
    // And the candidate stage is BUCKET-joined: the physical plan carries
    // the IVF cell id (cid) in the candidate join, not a bare
    // label-quadratic self-join.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cid"), "q51 plan lost the cell-key candidate join")
  }

  test("q123 incremental embedding dedup: every exact cross-boundary pair found") {
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    val got = byName("q123_incremental_embedding_dedup").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact reference: corpus (< 100000) × arrivals (>= 100000) within a
    // label, decimal cosine >= 0.9 — the celled probe must reach every
    // pair, and must emit ONLY corpus→new pairs (never corpus-corpus).
    val e = PipelineQueries.embWithDups(spark, sfDir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    val exactCos =
      VectorOps.dotDecimal(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))
    val expected = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < 100000 && col("b.vec_id") >= 100000 &&
          exactCos >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "no planted cross-boundary near-dups at this SF")
    assert(got == expected,
      s"incremental pair set != exact: missing ${(expected -- got).take(5)}, " +
        s"extra ${(got -- expected).take(5)}")
    assert(got.forall { case (c, n) => c < 100000 && n >= 100000 },
      "q123 emitted a non-incremental pair")
  }

  test("trained two-level cell assignment loses no exact dedup pair") {
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    val e = PipelineQueries.embWithDups(spark, sfDir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    val fine = PipelineQueries.ivfCentroids(e)
    val assign = PipelineQueries.trainedCellAssignments(
      e, fine, coarseProbes = 2, fineProbes = 3)
    val cand = assign.as("a").join(assign.as("b"),
        col("a.label") === col("b.label") && col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactCos =
      VectorOps.dotDecimal(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))
    val expected = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id") &&
          exactCos >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    assert((expected -- cand).isEmpty,
      s"trained two-level candidates lost pairs: ${(expected -- cand).take(5)}")
  }

  test("q127 semantic decontamination flags exactly the planted eval leaks") {
    graft.functions.GraftFunctions.register(spark)
    val rows = byName("q127_semantic_decontaminate").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty, "no leakage flagged")
    val maxId = Tables.embeddings(spark, sfDir).agg(max("vec_id"))
      .head.getLong(0)
    val nb = maxId / 97
    val planted = (0L to maxId)
      .filter(v => v % 13 == 0 && v % 97 != 0).toSet
    // Every planted leak is flagged against its SOURCE benchmark vector
    // at near-perfect similarity; nothing else crosses the threshold.
    assert(rows.map(_._1).toSet == planted,
      s"flag set != planted: missing ${(planted -- rows.map(_._1)).take(5)}")
    rows.foreach { case (v, b, cos) =>
      if (b == (v % (nb + 1)) * 97)
        assert(cos > 0.97, s"planted leak $v scored only $cos vs its source")
      assert(b % 97 == 0, s"non-benchmark id $b in flags")
    }
  }

  test("q126 dedup keep policy: the most complete copy survives per cluster") {
    graft.functions.GraftFunctions.register(spark)
    val rows = byName("q126_dedup_keep_policy").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    rows.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.count(_._3) == 1, s"cluster $cl kept ${members.count(_._3)}")
      if (members.length > 1) {
        // The planted variants (+100000 drop their first word, +200000
        // exact copies tie on length and lose on id) never beat the
        // original under (priority, length, id).
        val kept = members.find(_._3).get._1
        assert(kept < 100000L, s"cluster $cl kept planted copy $kept")
      }
    }
    assert(rows.exists(t => !t._3), "no duplicate copy was dropped")
  }

  test("q124 SemDeDup keep: one representative per cluster, dup members dropped") {
    graft.functions.GraftFunctions.register(spark)
    val rows = byName("q124_semdedup_keep").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val total = PipelineQueries.embWithDups(spark, sfDir).count()
    assert(rows.length == total, "q124 must decide every vector")
    // Exactly one kept member per cluster.
    rows.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.count(_._3) == 1, s"cluster $cl kept ${members.count(_._3)}")
    }
    // The planted near-dups actually cluster: every q51 pair shares a
    // cluster and exactly one side of a 2-member cluster is dropped.
    val cluster = rows.map(t => t._1 -> t._2).toMap
    val pairs = byName("q51_embedding_dedup").query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    val dropped = rows.filter(!_._3).map(_._1).toSet
    assert(dropped.nonEmpty, "no duplicate member was dropped")
    assert(dropped.forall(v => pairs.exists(p => p._1 == v || p._2 == v)),
      "a vector outside any near-dup pair was dropped")
  }

  test("q43 banded candidates reproduce the exact length-bucket pair set") {
    import graft.operators.TextOps
    // Exact reference: the quadratic same-source + |Δn_chars|<=20 join
    // (the pre-banding q43). The MinHash-band candidate stage must not
    // lose a single >=0.5 pair on the test corpus.
    val docs = PipelineQueries.docsWithDups(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.wordShingles(col("text"), 3).as("grams"))
      .cache()
    val inter = size(array_intersect(col("a.grams"), col("b.grams")))
    val uni = size(array_distinct(concat(col("a.grams"), col("b.grams"))))
    val expected = docs.as("a").join(docs.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= 20)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (inter.cast("double") / uni.cast("double")).as("j"))
      .filter(col("j") >= 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = byName("q43_ngram_jaccard_dedup").query(spark, sfDir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    docs.unpersist()
    assert(got == expected,
      s"banded pair set != exact join: missing ${(expected -- got).take(5)}, " +
        s"extra ${(got -- expected).take(5)}")
  }

  test("q52 clusters the planted dup triangles under the original doc_id") {
    val rows = byName("q52_dup_clusters").query(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    // doc_id%70==0 has BOTH a near-dup (+100000) and an exact copy
    // (+200000): all three must share the original's cluster id.
    docIds.filter(_ % 70 == 0).foreach { id =>
      assert(rows(id) == id, s"original $id not its own representative")
      assert(rows(id + 100000L) == id, s"near-dup of $id in cluster ${rows(id + 100000L)}")
      assert(rows(id + 200000L) == id, s"exact copy of $id in cluster ${rows(id + 200000L)}")
    }
    // isolated docs are their own singleton clusters
    val isolated = docIds.filter(id => id % 10 != 0 && id % 7 != 0)
    isolated.take(20).foreach(id => assert(rows(id) == id))
  }

  test("q46 langid predicts en or und on the english-vocabulary corpus") {
    val preds = byName("q46_langid").query(spark, sfDir)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "und")), s"unexpected langs: $preds")
  }

  test("q50 decodes real PPM payloads: parsed dims + pixel checksum match") {
    import graft.operators.Multimodal
    val feats = byName("q50_multimodal_decode").query(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .toMap
    val recs = Multimodal.mediaRecords(spark, Tables.documents(spark, sfDir)).collect()
    assert(recs.nonEmpty)
    recs.foreach { r =>
      val img = Multimodal.decodePpm(r.content)
      assert(img.width == r.width && img.height == r.height,
        s"doc ${r.doc_id}: header dims ${img.width}x${img.height} vs metadata ${r.width}x${r.height}")
      val (nBytes, w, h, featSum) = feats(r.doc_id)
      assert(nBytes == 3L * r.width * r.height, s"doc ${r.doc_id}: pixel byte count $nBytes")
      assert(w == img.width && h == img.height)
      val expSum = img.pixels.foldLeft(0L)((a, b) => a + (b & 0xff)) % 1000003L
      assert(featSum == expSum, s"doc ${r.doc_id}: checksum $featSum != $expSum")
    }
  }

  test("multimodal batch decode equals per-record decode across batch sizes") {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, sfDir).limit(100)
    val perRecord = Multimodal.mediaRecords(spark, docs).collect()
      .map(Multimodal.decode).map(f => (f.doc_id, f.feat_sum)).toMap
    // Batch sizes that exercise: partial final batch, batch of 1, batch
    // larger than any partition.
    Seq(1, 7, 1000).foreach { bs =>
      val batched = Multimodal.extractFeatures(spark, docs, partitions = 4, batchSize = bs)
        .select("doc_id", "feat_sum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(batched == perRecord, s"batchSize=$bs diverged from per-record decode")
    }
  }

  test("q58 quota sample: contiguous ranks from 1, capped, deterministic") {
    val rows = byName("q58_quota_sample").query(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val bySource = rows.groupBy(_._1)
    val counts = Tables.documents(spark, sfDir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.keySet == counts.keySet, "a source is missing from the sample")
    bySource.foreach { case (src, rs) =>
      val ranks = rs.map(_._3).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"$src ranks not contiguous from 1: $ranks")
      assert(ranks.size == math.min(100L, counts(src)), s"$src cap violated")
    }
    // Deterministic: a second evaluation picks the identical kept set.
    val again = byName("q58_quota_sample").query(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSet == again.toSet, "quota sample is not deterministic")
  }

  test("q59 dataset mix: rates respect weights and sampled counts are bounded") {
    val rows = byName("q59_dataset_mix").query(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSet == Set("en", "es", "de", "fr", "zh"))
    rows.foreach { case (lang, langTokens, rate, nDocs, nTokens) =>
      assert(rate > 0.0 && rate <= 1.0, s"$lang rate out of range: $rate")
      assert(nTokens <= langTokens, s"$lang sampled more tokens than it has")
      // rate == 1 means the hash-mod filter keeps every doc of that lang.
      if (rate == 1.0)
        assert(nTokens == langTokens, s"$lang rate=1 but tokens were dropped")
    }
    // en gets the 0.40 weight: its rate must be the strict max (the other
    // four share 0.15 and the synthetic corpus is near-uniform by lang).
    val rateBy = rows.map(r => r._1 -> r._3).toMap
    assert(Seq("es", "de", "fr", "zh").forall(l => rateBy("en") >= rateBy(l)),
      s"en rate not maximal: $rateBy")
  }

  test("q65 percentile gate keeps ~90% per language, never below threshold") {
    val kept = byName("q65_quality_percentile").query(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    kept.foreach { case (lang, score, p10) =>
      assert(score >= p10, s"$lang kept a below-threshold score $score < $p10")
    }
    val total = Tables.documents(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    kept.groupBy(_._1).foreach { case (lang, rs) =>
      val frac = rs.size.toDouble / total(lang)
      assert(frac >= 0.85 && frac <= 0.95,
        s"$lang kept ${rs.size}/${total(lang)} — not ~90%")
    }
  }

  test("q66 log-probs are negative means over the doc's token count") {
    val rows = byName("q66_unigram_logprob").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { case (id, n, lp) =>
      assert(n > 0 && lp < 0.0, s"doc $id: n=$n mean_logp=$lp")
    }
    // Spot-check one doc's token count against the raw text.
    val (id0, n0, _) = rows.minBy(_._1)
    val text = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === id0).select("text").collect()(0).getString(0)
    assert(n0 == text.split(" ").length, s"doc $id0 token count mismatch")
  }

  test("multimodal resize: identity at source dims, real NN resample + determinism") {
    import graft.operators.Multimodal
    val recs = Multimodal.mediaRecords(spark, Tables.documents(spark, sfDir).limit(50))
      .collect()
    recs.foreach { r =>
      val same = Multimodal.resize(r, r.width, r.height)
      assert(same.content.sameElements(r.content), s"doc ${r.doc_id}: identity resize changed bytes")
      val up = Multimodal.resize(r, 64, 64)
      val img = Multimodal.decodePpm(up.content)
      assert(img.width == 64 && img.height == 64 && img.pixels.length == 3 * 64 * 64,
        s"doc ${r.doc_id}: resized payload is not a 64x64 PPM")
      val again = Multimodal.resize(r, 64, 64)
      assert(up.content.sameElements(again.content), "resize not deterministic")
    }
    // Pixel-level correctness on a handmade image: a 2x1 RGB pair upscaled
    // to 4x1 must replicate each source pixel (nearest neighbor).
    val px = Array[Byte](10, 20, 30, 40, 50, 60)
    val rec = Multimodal.MediaRecord(1L, Multimodal.encodePpm(2, 1, px), 2, 1, "ppm")
    val wide = Multimodal.decodePpm(Multimodal.resize(rec, 4, 1).content)
    assert(wide.pixels.toSeq == Seq[Byte](10, 20, 30, 10, 20, 30, 40, 50, 60, 40, 50, 60),
      s"nearest-neighbor upscale wrong: ${wide.pixels.toSeq}")
  }

  test("multimodal frame sampling: every frame at stride 1, strided subset above") {
    import graft.operators.Multimodal
    val recs = Multimodal.mediaRecords(spark, Tables.documents(spark, sfDir).limit(50))
      .collect()
    recs.foreach { r =>
      val all = Multimodal.sampleFramesStub(r, 1)
      val expected = (r.content.length + Multimodal.FrameBytes - 1) / Multimodal.FrameBytes
      assert(all.size == expected, s"doc ${r.doc_id}: ${all.size} frames, expected $expected")
      val strided = Multimodal.sampleFramesStub(r, 3)
      assert(strided.map(_.frame_idx) == all.map(_.frame_idx).filter(_ % 3 == 0),
        s"doc ${r.doc_id}: stride-3 indexes wrong")
      // Checksums must match the stride-1 run's for the same frames.
      val byIdx = all.map(f => f.frame_idx -> f.checksum).toMap
      strided.foreach(f => assert(f.checksum == byIdx(f.frame_idx)))
    }
  }

  test("q68 IVF: ranked buckets-only results, cos values exact vs brute force") {
    val ivf = byName("q68_ann_ivf").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(ivf.nonEmpty)
    ivf.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= 5, s"query $q returned ${rs.length} > 5")
      val byRank = rs.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $q not sorted by cos")
    }
    // Every IVF cos must equal the brute-force cos for that exact pair
    // (IVF prunes CANDIDATES, it must not change SCORES), and probing 2
    // of 16 buckets should still recover a nontrivial share of the true
    // top-5 on sf0.001's ~500 vectors.
    val brute = byName("q44_cosine_knn").query(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getDouble(3)))).toMap
    val hits = ivf.count { case (q, v, _, _) => brute.contains((q, v)) }
    ivf.foreach { case (q, v, _, cos) =>
      brute.get((q, v)).foreach { case (_, bcos) =>
        assert(math.abs(cos - bcos) < 1e-9, s"($q,$v): IVF cos $cos != brute $bcos")
      }
    }
    assert(hits > 0, "IVF recovered none of the brute-force top-5")
  }

  test("q67 pipeline summary equals direct per-doc recomputation") {
    import graft.operators.Multimodal
    val out = byName("q67_multimodal_pipeline").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val recs = Multimodal.mediaRecords(spark, Tables.documents(spark, sfDir)).collect()
    recs.foreach { r =>
      val frames = Multimodal.sampleFramesStub(Multimodal.resize(r, 64, 64), 2)
      if (frames.nonEmpty) {
        val (n, bytes, csum) = out(r.doc_id)
        assert(n == frames.size && bytes == frames.map(_.n_bytes).sum &&
          csum == frames.map(_.checksum).sum,
          s"doc ${r.doc_id}: pipeline summary diverges from direct recomputation")
      } else assert(!out.contains(r.doc_id))
    }
  }

  test("q89 recall eval: one row per query point, hits bounded by k") {
    val rows = byName("q89_ann_recall").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSet == PipelineQueries.KnnQueryIds.toSet,
      "recall eval must cover exactly the fixed query points")
    rows.foreach { case (qid, hits, recall) =>
      assert(hits >= 0 && hits <= 5, s"qid $qid: $hits hits out of a top-5")
      assert(math.abs(recall - hits / 5.0) < 1e-9, s"qid $qid: recall != hits/5")
    }
  }

  test("q99 LSH recall: high-similarity deciles fully recovered") {
    val rows = byName("q99_lsh_recall").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "no truth pairs to evaluate")
    rows.filter(_._1 >= 8).foreach { case (dec, t, c, rec) =>
      assert(rec == 1.0, s"decile $dec: LSH missed ${t - c} of $t near-identical pairs")
    }
    val (t, c) = (rows.map(_._2).sum, rows.map(_._3).sum)
    assert(c.toDouble / t >= 0.9, s"overall LSH recall ${c.toDouble / t} below 0.9")
  }

  test("q91 stratified split: exact 80/10/10 cuts inside every stratum") {
    val rows = byName("q91_stratified_split").query(spark, sfDir).collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getString(3)))
    rows.groupBy(_._1).foreach { case (stratum, docs) =>
      val n = docs.size.toLong
      val bySplit = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(bySplit.getOrElse("train", 0L) == n * 8 / 10,
        s"$stratum: train cut is not floor(.8n) of $n")
      assert(bySplit.getOrElse("train", 0L) + bySplit.getOrElse("val", 0L) == n * 9 / 10,
        s"$stratum: train+val cut is not floor(.9n) of $n")
      assert(bySplit.values.sum == n, s"$stratum: splits do not partition the stratum")
    }
  }

  test("q131 int8 rerank: exact final cos, bounded quantization error") {
    val rows = byName("q131_int8_rerank").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= 5, s"query $q returned ${rs.length} > 5")
      val byRank = rs.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $q not sorted by the reranked cos")
    }
    // The rerank is full precision: any (q, v) pair q131 shares with the
    // brute-force top-5 must carry the identical cos (quantization prunes
    // CANDIDATES, it must not change final SCORES).
    val brute = byName("q44_cosine_knn").query(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    rows.foreach { case (q, v, _, cos, icos) =>
      brute.get((q, v)).foreach(bcos =>
        assert(math.abs(cos - bcos) < 1e-9, s"($q,$v): rerank cos $cos != brute $bcos"))
      // SQ8 error bound for unit vectors: |icos - cos| <=
      // 2*0.5*sqrt(Dim)/127 + Dim*0.25/127^2 ~= 0.064 at Dim=64.
      assert(math.abs(icos - cos) < 0.07,
        s"($q,$v): quantized estimate $icos off from exact $cos by > SQ8 bound")
    }
  }

  test("q132 filtered ANN: label constraint holds; same-label q68 hits are kept") {
    val rows = byName("q132_filtered_ann").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val labelOf = Tables.embeddings(spark, sfDir).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (qid, label, v, _, _) =>
      assert(labelOf(qid) == label && labelOf(v) == label,
        s"($qid,$v): neighbor label ${labelOf(v)} breaks the filter ${labelOf(qid)}")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= 5, s"query $q returned ${rs.length} > 5")
      val byRank = rs.sortBy(_._4).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $q not sorted by cos")
    }
    // The filtered candidate set is a subset of the unfiltered one over
    // the same probe-2 cells, so any q68 top-5 neighbor that already
    // satisfies the label predicate can only move UP in rank — it must
    // appear in q132 with the identical cos.
    val got = rows.map(r => ((r._1, r._3), r._5)).toMap
    byName("q68_ann_ivf").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .filter { case (q, v, _) => labelOf(q) == labelOf(v) }
      .foreach { case (q, v, cos) =>
        assert(got.get((q, v)).contains(cos),
          s"($q,$v): same-label unfiltered hit missing or rescored in q132")
      }
  }

  test("winnow_keys equals a brute-force reference winnow on real texts") {
    import graft.functions.{GraftFunctions, WinnowImpl}
    GraftFunctions.register(spark)
    val k = PipelineQueries.WinnowK
    val w = PipelineQueries.WinnowW
    def reference(t: String): Seq[Long] = {
      val m = t.length - k + 1
      if (m <= 0) return Seq.empty
      val hashes = (0 until m).map { i =>
        t.substring(i, i + k).foldLeft(0L)((a, c) => (a * 131 + c) % 1000000007L)
      }
      val keys = hashes.zipWithIndex.map { case (h, i) =>
        h * WinnowImpl.PosShift + (i + 1)
      }
      val starts = if (m <= w) Seq(0) else 0 to (m - w)
      starts.map(j => keys.slice(j, j + w).min).distinct.sorted
    }
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val got = Tables.documents(spark, sfDir)
      .select(col("doc_id"), GraftFunctions.winnowKeys(col("text"), k, w).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == reference(t), s"doc $id: expression diverges from reference")
    }
    // Boundary lengths the corpus (min 48 chars) never exercises: below
    // the gram floor (empty set), exactly one gram, the single-window
    // regime (m <= w), its edge (m = w), and the first deque window
    // (m = w + 1).
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789 .,;!?-"
    val crafted = Seq("", "x", alpha.take(k - 1), alpha.take(k),
      (alpha * 3).take(k + w - 2), (alpha * 3).take(k + w - 1),
      (alpha * 3).take(k + w), ("ab" * 60).take(k + 2 * w))
    crafted.foreach { t =>
      val g = spark.range(1)
        .select(GraftFunctions.winnowKeys(lit(t), k, w).as("ks"))
        .head().getSeq[Long](0)
      assert(g == reference(t), s"crafted len ${t.length}: diverges from reference")
    }
  }

  test("q134 winnowing finds every planted >= 60-char shared passage; matches verify") {
    val rows = byName("q134_winnow_dedup").query(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.nonEmpty)
    // Planted groups: doc_id % 51 < 3 share a per-group verbatim quote
    // (~100 chars >= the w + k - 1 = 60 guarantee) — every within-group
    // pair must be detected.
    val ids = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0)).filter(_ % 51 < 3)
    val expectedPairs = ids.groupBy(_ / 51).values.flatMap { g =>
      for (a <- g.toSeq; b <- g.toSeq if a < b) yield (a, b)
    }.toSet
    assert(expectedPairs.nonEmpty)
    expectedPairs.foreach { p =>
      assert(rows.contains(p), s"planted shared-passage pair $p not detected")
    }
    // Soundness: every reported first-match pair is a REAL k-char-exact
    // overlap of the (quote-planted) texts.
    val k = PipelineQueries.WinnowK
    val text2 = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map { r =>
        val id = r.getLong(0)
        id -> (r.getString(1) + PipelineQueries.winnowQuoteStr(id))
      }.toMap
    rows.foreach { case ((a, b), (n, fa, fb)) =>
      assert(n >= 1)
      val sa = text2(a).substring(fa.toInt - 1, fa.toInt - 1 + k)
      val sb = text2(b).substring(fb.toInt - 1, fb.toInt - 1 + k)
      assert(sa == sb, s"pair ($a,$b): reported match positions do not align")
    }
  }

  test("q133 DSIR selection equals the locally recomputed histogram threshold") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val sel = byName("q133_dsir_select").query(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // keepNum = keepDen keeps the whole pool: the same scoring path with
    // the selection disabled, i.e. the full scored pool to recompute from.
    val pool = PipelineQueries.dsirSelect(docs, col("source") === "src1", 1, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(sel.nonEmpty && pool.size > sel.size, "selection did not subset the pool")
    val k = math.ceil(pool.size / 10.0).toLong
    val thr = pool.values.map(w => math.floor(w).toLong).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy(-_._1).scanLeft((Long.MaxValue, 0L)) { case ((_, c), (fb, n)) => (fb, c + n) }
      .collectFirst { case (fb, cum) if cum >= k => fb }.get
    val expected = pool.filter { case (_, w) => math.floor(w).toLong >= thr }
    assert(sel.keySet == expected.keySet,
      s"selected set != histogram-threshold set (thr=$thr, k=$k)")
    sel.foreach { case (id, w) =>
      assert(w == expected(id), s"doc $id: selected logw $w != pool logw ${expected(id)}")
    }
  }

  test("q139 bigram logprob: coverage, negative means, bucket-model bound") {
    val rows = byName("q139_bigram_logprob").query(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("nw"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // Every doc with >= 2 words scores; n_bigrams = words - 1.
    docs.foreach { case (id, nw) =>
      if (nw >= 2) {
        assert(rows.contains(id), s"doc $id (nw=$nw) missing from q139")
        assert(rows(id)._1 == nw - 1, s"doc $id bigram count ${rows(id)._1} != ${nw - 1}")
      }
    }
    // Probabilities are < 1 so every mean log is strictly negative, and
    // no mean can beat log(1/total) >= the best single bucket's share.
    rows.values.foreach { case (_, m) => assert(m < 0, s"non-negative mean $m") }
  }

  test("q140 url dedup: canonical form is fully normalized, keeps are group minima") {
    val rows = byName("q140_url_dedup").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, raw, canon, _, _) =>
      assert(canon.startsWith("https://"), s"$id: scheme not canonical: $canon")
      assert(!canon.contains("www."), s"$id: www survived: $canon")
      assert(!canon.contains(":80"), s"$id: default port survived: $canon")
      assert(!canon.contains("?"), s"$id: query survived: $canon")
      assert(!canon.endsWith("/"), s"$id: trailing slash survived: $canon")
      assert(canon == canon.toLowerCase, s"$id: case survived: $canon")
      assert(raw.toLowerCase.contains(
        canon.stripPrefix("https://").takeWhile(_ != '/')),
        s"$id: canonical host not derived from raw: $raw -> $canon")
    }
    // Exactly one keeper per canonical group, and it is the min doc_id;
    // planted variants guarantee real duplicate groups.
    val byCanon = rows.groupBy(_._3)
    assert(byCanon.exists(_._2.length > 1), "no duplicate canonical URLs planted")
    byCanon.foreach { case (canon, g) =>
      val keepers = g.filter(_._5)
      assert(keepers.length == 1, s"$canon: ${keepers.length} keepers")
      assert(keepers.head._1 == g.map(_._1).min, s"$canon: keeper is not min id")
      g.foreach(r => assert(r._4 == g.length, s"$canon: n_dupes wrong"))
    }
  }

  test("q145 corpus diff: classes are exactly the planted edits") {
    val rows = byName("q145_corpus_diff").query(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0))
    // Minted-id offset is corpus-derived (round 16): the smallest power
    // of ten above max(doc_id) — same rule as both engines.
    val off = ("1" + "0" * ids.max.toString.length).toLong
    ids.foreach { id =>
      if (id % 13 == 0) assert(rows.get(id).contains("removed"), s"doc $id")
      else if (id % 17 == 0) assert(rows.get(id).contains("changed"), s"doc $id")
      else assert(!rows.contains(id), s"unchanged doc $id emitted: ${rows.get(id)}")
      if (id % 23 == 0)
        assert(rows.get(id + off).contains("added"), s"added ${id + off}")
    }
    assert(rows.size == ids.count(_ % 13 == 0) +
      ids.count(i => i % 17 == 0 && i % 13 != 0) + ids.count(_ % 23 == 0),
      "diff emitted unexpected rows")
  }

  test("q143 intra-doc repeats: every planted self-copy found, positions ordered") {
    val rows = byName("q143_intra_repeat").query(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // A planted doc re-appends its first 80 chars: any doc with >= 80
    // chars repeats a >= 60-char passage, which the winnow guarantee
    // must catch.
    val planted = docs.filter { case (id, nc) => id % 11 == 0 && nc >= 80 }
    assert(planted.nonEmpty)
    planted.foreach { case (id, _) =>
      assert(rows.contains(id), s"planted self-repeat in doc $id missed")
    }
    rows.foreach { case (id, (ng, p1, p2)) =>
      assert(ng >= 1 && p1 < p2, s"doc $id: malformed repeat ($ng, $p1, $p2)")
    }
  }

  test("q144 domain quality: rollup covers all hosts, flag matches its rule") {
    val rows = byName("q144_domain_quality").query(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_._2).sum == nDocs, "rollup lost documents")
    rows.foreach { case (host, n, mq, ls, flag) =>
      assert(host.endsWith(".example.com"), s"malformed host $host")
      assert(n > 0 && ls >= 0.0 && ls <= 1.0)
      assert(flag == (mq < 0.55 || ls > 0.5),
        s"$host: blocklist flag inconsistent with its rule ($mq, $ls)")
    }
  }

  test("q142 luhn: checksum-valid cards redacted, lookalike digits survive") {
    val rows = byName("q142_luhn_redact").query(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, (nc, nv, red)) =>
      assert(nc >= 1)
      id % 9 match {
        case 0 =>
          assert(nc == 2 && nv == 2, s"doc $id: both planted cards must validate")
          assert(!red.contains("4111111111111111") &&
            !red.contains("4012888888881881"), s"doc $id: a card survived")
        case 3 =>
          assert(nv == 1, s"doc $id: planted valid card not validated")
          assert(red.contains("[CARD]"), s"doc $id: valid card not redacted")
          assert(!red.contains("5500005555555559"), s"doc $id: card survived")
        case 6 =>
          assert(nv == 0, s"doc $id: Luhn-invalid digits validated")
          assert(red.contains("1234567890123456"),
            s"doc $id: lookalike digits wrongly redacted")
        case _ => fail(s"doc $id without a planted candidate in output")
      }
    }
  }

  test("q135 BPE: round-trip decode, bounds, and real compression") {
    import graft.operators.Bpe
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val merges = Bpe.mergesFor(spark, sfDir)
    assert(merges.size == Bpe.NumMerges,
      s"corpus exhausted at ${merges.size} merges — fixture too small")
    val words = Bpe.wordsOf(docs).select("word").distinct().cache()
    // Round trip: stripping the delimiters from the encoded repr must
    // reproduce the word exactly (merges move boundaries, never content).
    val enc = words.select(col("word"),
      Bpe.applyMerges(Bpe.initRepr(col("word")), merges).as("repr"))
    val bad = enc
      .filter(translate(col("repr"), "\u0001\u0002", "") =!= col("word"))
      .count()
    assert(bad == 0, s"$bad word types fail round-trip decode")
    // Token counts bounded by [1, len]; the trained merges actually fire
    // (total subword tokens strictly below total characters).
    val counted = enc.select(Bpe.tokenCount(col("repr")).as("n"),
      length(col("word")).cast("long").as("len"))
    assert(counted.filter(col("n") < 1 || col("n") > col("len")).count() == 0)
    val Array(tokSum, chrSum) = counted.agg(sum("n"), sum("len"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    assert(tokSum < chrSum, s"no compression: $tokSum tokens vs $chrSum chars")
    words.unpersist()
  }

  test("q136 span removal: quote gone from exactly the non-survivors, rest intact") {
    import graft.queries.PipelineQueries
    // Three docs share an exact 120-char passage mid-text with distinct
    // prefixes/suffixes (no cross-doc 40-gram outside the passage); a
    // fourth doc is unrelated. Keep rule: doc 1 has top priority (wins
    // both its pairs); docs 2 vs 3 tie on priority and 2 is longer, so 3
    // loses twice (same passage -> one merged span) and 2 loses once.
    val passage = (1 to 10).map(i => s"sharedpassage$i").mkString(" ") // 120+ chars
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${words("alpha", 12)} $passage ${words("omega", 12)}", 0L),
      (2L, s"${words("bravo", 16)} $passage ${words("sigma", 16)}", 1L),
      (3L, s"${words("carol", 12)} $passage ${words("delta", 12)}", 1L),
      (4L, words("unrelatedfiller", 30), 1L))
    val df = spark.createDataFrame(docs).toDF("doc_id", "text2", "priority")
      .withColumn("n_chars", length(col("text2")).cast("long"))
    val out = PipelineQueries.winnowSpanDedup(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(2L, 3L),
      s"excised set ${out.keySet} != the two keep-rule losers")
    val core = passage.substring(30, 90) // always inside the removed span
    docs.filter(d => out.contains(d._1)).foreach { case (id, text, _) =>
      val (nSpans, removed, clean) = out(id)
      assert(nSpans == 1L, s"doc $id: expected one merged span, got $nSpans")
      assert(!clean.contains(core), s"doc $id: passage core survived removal")
      // The flanking spaces are part of the shared region (a gram starting
      // at the leading space is identical across the three docs), so the
      // preserved prefix/suffix are the words strictly outside them.
      val prefix = text.substring(0, text.indexOf(passage) - 1)
      val suffix = text.substring(text.indexOf(passage) + passage.length + 1)
      assert(clean.startsWith(prefix), s"doc $id: prefix text changed")
      assert(clean.endsWith(suffix), s"doc $id: suffix text changed")
      assert(clean.length == text.length - removed,
        s"doc $id: length bookkeeping off")
      assert(removed <= passage.length + 2,
        s"doc $id: removed $removed chars — more than the passage")
    }
  }

  test("q149 PQ-ADC: contiguous ranks, descending rerank, exact codeword reconstruction") {
    val rows = byName("q149_pq_adc").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length),
        s"qid $qid: ranks not contiguous")
      val byRnk = rs.sortBy(_._3).map(_._4)
      assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a >= b },
        s"qid $qid: rerank cos not descending")
    }
    // Codebook-source vectors reconstruct exactly, so their ADC estimate
    // equals the true cosine up to the per-subspace double round-trip
    // (≤ 1 ulp per pdot) and the final round(·, 6).
    val ids = Tables.embeddings(spark, sfDir).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    val stride = math.max(1L, ids.length.toLong / 8L)
    val trainIds = ids.filter(v => v % stride == 5L % stride).take(8).toSet
    val trainRows = rows.filter(r => trainIds.contains(r._2))
    trainRows.foreach { case (qid, vid, _, cos, acos) =>
      assert(math.abs(acos - cos) <= 2e-6,
        s"qid $qid vec $vid: codeword-source acos $acos != cos $cos")
    }
  }

  test("q150 hybrid RRF: fused score recomputes from the two ranks, order pinned") {
    val rows = byName("q150_hybrid_rrf").query(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val parsed = rows.map { r =>
      val l = if (r.isNullAt(4)) None else Some(r.getInt(4))
      val s = if (r.isNullAt(5)) None else Some(r.getInt(5))
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), l, s)
    }
    parsed.foreach { case (qid, _, doc, rrf, l, s) =>
      val expect = BigDecimal(
        l.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          s.map(r => 1.0 / (60 + r)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rrf - expect) < 1e-9,
        s"qid $qid doc $doc: rrf $rrf != 1/(60+l)+1/(60+s) = $expect")
      assert(l.nonEmpty || s.nonEmpty, s"qid $qid doc $doc in neither list")
    }
    parsed.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length),
        s"qid $qid: fused ranks not contiguous")
      val byRnk = rs.sortBy(_._2)
      byRnk.zip(byRnk.tail).foreach { case (a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
          s"qid $qid: fused order violates (rrf desc, doc asc)")
      }
      // A doc on BOTH lists at ranks (a, b) must outrank any doc whose
      // single-list rank is >= max(a, b) — the fusion property.
      val both = rs.filter(r => r._5.nonEmpty && r._6.nonEmpty)
      val single = rs.filter(r => r._5.isEmpty != r._6.isEmpty)
      for (b <- both; s <- single) {
        val worst = math.max(b._5.get, b._6.get)
        val sr = s._5.orElse(s._6).get
        if (sr >= worst) assert(b._2 < s._2,
          s"qid $qid: both-lists doc ${b._3} ranked below single-list doc ${s._3}")
      }
    }
  }

  test("q151 temperature mix: unique copies, flattened shares, budget preserved") {
    import graft.operators.TextOps
    val rows = byName("q151_mix_temperature").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(r => (r._1, r._3)).distinct.length == rows.length,
      "duplicate (doc_id, copy) rows")
    assert(rows.forall(_._3 >= 0))
    val ntok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(TextOps.words(col("text"))).cast("long").as("ntok"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val nl = ntok.values.groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2).sum }
    val total = nl.values.sum
    val keptTok = rows.groupBy(_._2).map { case (l, rs) =>
      l -> rs.map(r => ntok(r._1)._2).sum
    }
    // Realized per-language rate must be monotone DECREASING in corpus
    // share (the flattening) and the total token budget preserved within
    // remainder-sampling noise.
    val rates = nl.toSeq.sortBy(_._2).map { case (l, n) =>
      (l, n, keptTok.getOrElse(l, 0L).toDouble / n) }
    rates.zip(rates.tail).foreach { case ((la, na, ra), (lb, nb, rb)) =>
      if (na < nb) assert(ra >= rb - 0.15,
        s"rate($la, n=$na) = $ra not >= rate($lb, n=$nb) = $rb: no flattening")
    }
    val keptTotal = keptTok.values.sum.toDouble
    assert(math.abs(keptTotal / total - 1.0) < 0.1,
      s"token budget drifted: kept $keptTotal of $total")
  }

  test("q152 PQ recall: one row per query, recall arithmetic consistent and nonzero") {
    val rows = byName("q152_pq_recall").query(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate qid rows")
    assert(rows.length == graft.queries.PipelineQueries.KnnQueryIds.length)
    rows.foreach { case (qid, hits, rec) =>
      assert(hits >= 0 && hits <= 5, s"qid $qid: n_hits $hits out of range")
      assert(math.abs(rec - hits / 5.0) < 1e-9, s"qid $qid: recall != hits/5")
    }
    // The approximation stack must retrieve SOMETHING true overall — a
    // zero-recall index is a wiring bug, not an approximation trade.
    assert(rows.map(_._2).sum > 0, "PQ-ADC retrieved no true neighbors at all")
  }

  test("q153 gopher gates: keep is the AND of its rules, metrics recompute") {
    val rows = byName("q153_gopher_gates").query(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, "one row per document expected")
    rows.foreach { r =>
      val Seq(rLen, rWlen, rStop, rTop, rRep, keep) =
        (6 to 11).map(r.getBoolean)
      assert(keep == (rLen && rWlen && rStop && rTop && rRep),
        s"doc ${r.getLong(0)}: keep != AND(rules)")
      val nWords = r.getInt(1)
      assert(rLen == (nWords >= 10 && nWords <= 100000))
      assert(rTop == (r.getDouble(4) <= 0.20))
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0,
        s"doc ${r.getLong(0)}: top_frac out of (0,1]")
    }
    // The gate must be discriminative on the synthetic corpus (neither
    // all-pass nor all-drop) — q47's score analog keeps a spread too.
    val kept = rows.count(_.getBoolean(11))
    assert(kept > 0 && kept < rows.length,
      s"gate degenerate: kept $kept of ${rows.length}")
  }

  test("q154 count-min: estimates overestimate-only, exact side recomputes, tight on heavy hitters") {
    import graft.operators.TextOps
    val rows = byName("q154_countmin_words").query(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == graft.queries.PipelineQueries.CmTopK)
    rows.foreach { case (w, exact, est, over) =>
      assert(est >= exact, s"'$w': count-min UNDERestimated ($est < $exact)")
      assert(over == est - exact, s"'$w': overest bookkeeping off")
    }
    // Exact side must be the true top-K word counts.
    val truth = Tables.documents(spark, sfDir)
      .select(explode(TextOps.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (w, c) => (-c, w) }.take(rows.length)
    assert(rows.map(r => (r._1, r._2)).sortBy { case (w, c) => (-c, w) }.toSeq ==
      truth.toSeq, "exact top-K side disagrees with a direct recount")
    // Error bound sanity: with 4×1024 cells over this corpus the top
    // words' relative overestimate must stay small (collisions add at
    // most ~tokens/buckets per row; min over 4 rows keeps heavy hitters
    // tight). 50% is far above the expected error yet far below the
    // degenerate all-in-one-bucket failure.
    rows.foreach { case (w, exact, est, _) =>
      assert(est <= exact * 3 / 2,
        s"'$w': overestimate $est vs $exact — sketch geometry broken")
    }
  }

  test("q156 image keep: clusters equal q155 connectivity, keep rule recomputes") {
    import spark.implicits._
    val kept = PipelineQueries.defs.find(_.name == "q156_image_keep").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // Exactly one survivor per cluster.
    val perCluster = kept.groupBy(_._2)
    perCluster.foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid kept != 1")
      // The survivor is the max-resolution member, min-id tiebreak.
      val winner = members.minBy(m => (-m._3, m._1))
      assert(members.find(_._4).get._1 == winner._1,
        s"cluster $cid kept ${members.find(_._4).get._1}, rule says ${winner._1}")
      // cluster_id is the min member id (CC contract).
      assert(cid == members.map(_._1).min, s"cluster $cid not min member id")
    }
    // Cluster partition matches a driver-side union-find over q155 edges.
    val edges = PipelineQueries.defs.find(_.name == "q155_image_dhash").get
      .query(spark, sfDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = kept.map(_._1).map(n => n -> find(n)).toMap
    kept.foreach { case (n, cid, _, _) =>
      assert(cid == expected(n), s"node $n: cluster $cid != union-find ${expected(n)}")
    }
  }

  test("q157 incremental image dedup: exact copies hit their base class at hamming 0") {
    import spark.implicits._
    val matches = PipelineQueries.defs
      .find(_.name == "q157_incremental_image_dedup").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(matches.nonEmpty)
    // Every +200000 exact copy must match at hamming 0 (identical
    // payload ⇒ identical signature ⇒ corpus class membership), and the
    // matched rep must share the copy's signature.
    val sigs = PipelineQueries.imageDhashSigs(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val copies = sigs.keys.filter(id => id >= 200000L && id < 300000L)
    val exactByNew = matches.filter(_._3 == 0).groupBy(_._2)
    copies.foreach { id =>
      val hits = exactByNew.getOrElse(id, Array.empty)
      assert(hits.nonEmpty, s"copy $id found no hamming-0 corpus class")
      hits.foreach { case (rep, _, _) =>
        assert(sigs(rep) == sigs(id), s"copy $id matched rep $rep with a different sig")
      }
    }
    // Near matches (hamming 1-3) recompute from the signatures.
    matches.filter(_._3 > 0).foreach { case (rep, nid, h) =>
      assert(java.lang.Long.bitCount(sigs(rep) ^ sigs(nid)) == h,
        s"($rep,$nid) reported hamming $h, sigs say ${java.lang.Long.bitCount(sigs(rep) ^ sigs(nid))}")
    }
  }
}
