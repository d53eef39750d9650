package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Property pins for the curation battery (q95–q102). Values of the
  * SQL-expressible members are oracle-checked by the DuckDB gate;
  * these tests pin the structural invariants the hash compare cannot
  * see (period tiling, funnel monotonicity, Z-order locality, sketch
  * error bounds) at sf0.001. */
class CurationSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q95 SCD2 periods tile each user's timeline without overlap") {
    val df = Curation.q95Scd2(spark, dir).cache()
    try {
      // exactly one open period (NULL valid_to) per user
      val users = df.select("user_id").distinct().count()
      assert(df.filter(col("valid_to_us").isNull).count() == users)
      // every closed period is non-empty and abuts the next one: its
      // valid_to equals the next period's valid_from (lead over the
      // same ordering), so the history has no gaps and no overlaps
      val bad = df.filter(col("valid_to_us").isNotNull &&
        col("valid_to_us") <= col("valid_from_us")).count()
      assert(bad == 0, "closed periods must be non-empty")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("valid_from_us")
      val gaps = df
        .withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
        .filter(col("next_from").isNotNull &&
          col("valid_to_us") =!= col("next_from")).count()
      assert(gaps == 0, "adjacent periods must abut exactly")
      // adjacent periods always change state
      val sameState = df
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull &&
          col("next_type") === col("event_type")).count()
      assert(sameState == 0, "consecutive periods must differ in state")
    } finally df.unpersist()
  }

  test("q96 funnel stage counts are monotone non-increasing") {
    val r = Curation.q96Funnel(spark, dir).head()
    val (v, c, p) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_purchase"))
    assert(v > 0, "fixture must have viewers")
    assert(v >= c && c >= p, s"funnel must narrow: $v >= $c >= $p")
  }

  test("q97 model score buckets cover every document") {
    val df = Curation.q97ModelScore(spark, dir).cache()
    try {
      val total = graft.core.Tables.load(spark, dir, "documents").count()
      assert(df.count() == total)
      assert(df.filter(col("logit").isNull).count() == 0)
      val decisions = df.select("decision").distinct().collect()
        .map(_.getString(0)).toSet
      assert(decisions.subsetOf(Set("keep", "review", "drop")))
    } finally df.unpersist()
  }

  test("q98 Z-order buckets bound both dimension spans (locality)") {
    val df = Curation.q98Zorder(spark, dir).cache()
    try {
      // bucket = z div 64 frees 6 low Z bits = 3 bits per dimension,
      // so within a bucket each dimension spans at most 2^3 - 1 = 7
      val wide = df.filter(
        col("max_px") - col("min_px") > 7 ||
          col("max_sx") - col("min_sx") > 7).count()
      assert(wide == 0, "Z-order bucket must bound BOTH dimension spans")
      // the rectangle probe px in [32,47] x sx in [96,127] covers
      // 16*32/65536 = 0.78% of the key space; Z-locality keeps the
      // bucket-level read fraction within the bucket-granularity
      // inflation (4 buckets per dimension-aligned tile), never a
      // full-dimension stripe (which would read ~1/16 of buckets
      // per dimension = 6%+ of the space)
      val hitFrac = df.filter(col("probe_hit") === 1).count().toDouble /
        df.count().toDouble
      assert(hitFrac < 0.05, s"probe must skip most buckets, read $hitFrac")
    } finally df.unpersist()
  }

  test("q99 posting lists are sorted and sized by document frequency") {
    val rows = Curation.q99PostingLists(spark, dir).collect()
    assert(rows.length == 10)
    for (r <- rows) {
      val ids = r.getAs[String]("postings").split(",").map(_.toLong)
      assert(ids.length == r.getAs[Long]("df"),
        "posting length must equal document frequency")
      assert(ids.sameElements(ids.sorted), "postings must be sorted")
      assert(ids.distinct.length == ids.length, "postings must be unique")
    }
  }

  test("q100 bigram frequencies are positive and self-counting") {
    val df = Curation.q100BigramLm(spark, dir).cache()
    try {
      // every bigram occurs at least once (itself), so the mean is >= 1
      assert(df.filter(col("mean_freq") < 1.0).count() == 0)
      assert(df.filter(col("n_bigrams") <= 0).count() == 0)
    } finally df.unpersist()
  }

  test("q101 CMS estimates respect the count-min guarantee") {
    val rows = Curation.q101CmsHeavyFull(spark, dir).collect()
    assert(rows.length == 10)
    val n = graft.core.Tables.load(spark, dir, "events").count()
    for (r <- rows) {
      val (exact, est) = (r.getAs[Long]("exact_n"), r.getAs[Long]("est_n"))
      assert(est >= exact, "count-min never underestimates")
      // eps = 0.001: overestimate <= eps * N at 99% confidence per
      // counter; allow 3x headroom so the pin is not flaky-by-design
      assert(est - exact <= (0.003 * n).ceil.toLong + 1,
        s"overestimate ${est - exact} exceeds 3*eps*N")
    }
    // the oracle-checked projection carries the same contract as a bit
    val ok = Curation.q101CmsHeavy(spark, dir).collect()
    assert(ok.length == 10 && ok.forall(_.getAs[Int]("cms_ok") == 1))
  }

  test("q103 packed sequences are contiguous and conserve the token stream") {
    val df = Curation.q103SeqPack(spark, dir).cache()
    try {
      val totalTokens = graft.core.Tables.load(spark, dir, "documents")
        .select(sum(size(split(col("text"), " ")))).head().getLong(0)
      // conservation: the last doc ends exactly at the stream length
      val end = df.agg(max(col("start_off") + col("n_tokens"))).head().getLong(0)
      assert(end == totalTokens)
      // contiguity: each doc starts where the previous one ended —
      // the two-level prefix sum must equal the naive global one
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
      val gaps = df.withColumn("prev_end",
          lag(col("start_off") + col("n_tokens"), 1, 0L).over(w))
        .filter(col("start_off") =!= col("prev_end")).count()
      assert(gaps == 0, "two-level prefix sum must be gap-free")
      // a doc spans ceil-ish sequence count
      assert(df.filter(col("n_seqs") < 1 ||
        col("last_seq") < col("first_seq")).count() == 0)
    } finally df.unpersist()
  }

  test("q104 incremental dedup kills only new docs, and some of them") {
    val df = Curation.q104IncrementalDedup(spark, dir).cache()
    try {
      val nNew = graft.core.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 >= 8).count()
      assert(df.count() == nNew, "every new doc must be reported")
      val killed = df.filter(col("killed") === 1).count()
      assert(killed > 0, "fixture contains near-dups of the old corpus")
      assert(killed < nNew, "not every new doc is a duplicate")
    } finally df.unpersist()
  }

  /** The per-band union form q104 had before its single-derivation
    * rewrite, kept as the differential reference: one new×old join per
    * band, unioned and deduplicated, then a verify re-join of each
    * candidate pair to both sides' shingle sets. */
  private def q104PerBandUnion(dir: String): DataFrame = {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val sig = Dedup.signaturesOf(docs)
    val newSig = sig.filter(col("doc_id") % 10 >= 8)
    val oldSig = sig.filter(col("doc_id") % 10 < 8)
    val cand = (0 until Dedup.NumBands).map { b =>
      newSig.select(col("doc_id").as("nid"), col(s"band$b").as("bk"))
        .join(oldSig.select(col("doc_id").as("oid"), col(s"band$b").as("bk")), "bk")
        .select(col("nid"), col("oid"))
    }.reduce(_ union _).distinct()
    val kills = cand
      .join(sig.select(col("doc_id").as("nid"), col("sh").as("sh_n")), "nid")
      .join(sig.select(col("doc_id").as("oid"), col("sh").as("sh_o")), "oid")
      .filter(expr("3 * size(array_intersect(sh_n, sh_o)) >= " +
        "size(sh_n) + size(sh_o)"))
      .select(col("nid")).distinct()
    docs.filter(col("doc_id") % 10 >= 8)
      .join(kills.withColumn("killed", lit(1)), col("doc_id") === col("nid"), "left")
      .select(col("doc_id"), coalesce(col("killed"), lit(0)).as("killed"))
  }

  /** A magic shingle: "mq1 mr 60mcqm" hashes to x with x mod P =
    * −7919 / 1000003 mod P, where every one of the 16 affine hashes
    * takes the same value v. Doc A = magic + "p28 q9" has bands 0 and
    * 1 equal to v:v:v:v, doc B = magic + "p28 r0" has band 2 equal to
    * it, no band position agrees, and |A∩B| / |A∪B| = 2/4 passes the
    * verify: a join on the band key alone kills A, the per-band form
    * does not. A is new doc 2398, B old doc 2397. */
  private val crossBandPair =
    Map(2398 -> "mq1 mr 60mcqm p28 q9", 2397 -> "mq1 mr 60mcqm p28 r0")

  /** Writes a seeded 2,400-doc `documents.parquet` under `dir` (480 new
    * docs) and returns the near-dup (new, new) pairs it planted. New
    * docs are near-dups of old ones at 0–11 token substitutions (pairs
    * sharing 1 to 4 bands, on both sides of the verify), exact copies,
    * 0–2-token docs (NULL bands, on both sides), fresh docs, in-increment
    * near-dup pairs and the [[crossBandPair]]. */
  private def writeQ104Corpus(dir: String): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(104)
    def words(n: Int) = Seq.fill(n)("w" + rng.nextInt(3000)).mkString(" ")
    def short() = Seq("", "w7", "w7 w8")(rng.nextInt(3))
    def mutate(t: String, k: Int) = {
      val toks = t.split(" ")
      (1 to k).foreach(_ => toks(rng.nextInt(toks.length)) = "x" + rng.nextInt(1 << 20))
      toks.mkString(" ")
    }
    val n = 2400
    val text = new Array[String](n)
    val (newIds, oldIds) = (0 until n).partition(_ % 10 >= 8)
    oldIds.foreach(id => text(id) = crossBandPair.getOrElse(id,
      if (rng.nextInt(30) == 0) short() else words(16 + rng.nextInt(16))))
    def anOld() = text(oldIds(rng.nextInt(oldIds.size)))
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    newIds.foreach { id =>
      text(id) = crossBandPair.getOrElse(id, rng.nextInt(10) match {
        case 0 | 1 | 2 | 3 => mutate(anOld(), rng.nextInt(12))
        case 4 => anOld()
        case 5 => short()
        case 6 | 7 if id % 10 == 9 && !crossBandPair.contains(id - 1) =>
          pairs += ((id - 1L, id.toLong))
          text(id - 1) = words(24)
          mutate(text(id - 1), rng.nextInt(2))
        case _ => words(16 + rng.nextInt(16))
      })
    }
    spark.createDataFrame(text.indices.map(i => (i.toLong, text(i))))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    pairs.toSeq
  }

  test("q104 matches the per-band union form on a synthetic corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q104").toString
    try {
      val pairs = writeQ104Corpus(dir)
      val sig = Dedup.signaturesOf(graft.core.Tables.load(spark, dir, "documents"))
      val isNew = col("doc_id") % 10 >= 8
      // the corpus covers what it claims: NULL bands on both sides,
      // new×old pairs sharing exactly 1, 2, 3 and 4 bands, and colliding
      // in-increment pairs
      assert(sig.filter(col("band0").isNull).groupBy(isNew).count().count() == 2)
      val bandRows = sig.select(col("doc_id"),
        posexplode(array((0 until Dedup.NumBands).map(b => col(s"band$b")): _*)))
      val shared = bandRows.filter(isNew).select(col("doc_id").as("nid"), col("pos"), col("col"))
        .join(bandRows.filter(!isNew).select(col("doc_id").as("oid"), col("pos"), col("col")),
          Seq("pos", "col"))
        .groupBy("nid", "oid").count()
      assert(shared.select("count").distinct().collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 4L))
      val inc = bandRows.select(col("doc_id").as("a"), col("pos"), col("col"))
        .join(bandRows.select(col("doc_id").as("b"), col("pos"), col("col")), Seq("pos", "col"))
        .join(spark.createDataFrame(pairs).toDF("a", "b"), Seq("a", "b"))
        .select("a", "b").distinct()
      val nInc = inc.count()
      assert(nInc >= 10, s"$nInc of ${pairs.size} planted in-increment pairs share a band")

      val got = Curation.q104IncrementalDedup(spark, dir)
      val ref = q104PerBandUnion(dir)
      val rows = got.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(rows.size == 480 && rows.map(_._1) == rows.map(_._1).sorted)
      assert(rows.sorted == ref.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted)
      val killed = rows.collect { case (id, 1) => id }.toSet
      assert(killed.size > 50 && killed.size < 480, s"${killed.size} killed")
      // near-dups inside the increment never kill each other, and a
      // collision on the band key at different band positions is not a
      // candidate
      assert(pairs.forall { case (a, b) => !killed(a) && !killed(b) })
      assert(!killed(2398L), "the cross-band-position pair was a candidate")
      info(s"${killed.size} of ${rows.size} new docs killed; $nInc of " +
        s"${pairs.size} in-increment near-dup pairs share a band")

      // no NULL band key reaches the band join's exchange
      val w = JoinKeyAudit.walk("q104",
        Curation.q104IncrementalDedup(spark, dir).queryExecution.optimizedPlan)
      val (offenders, unprobeable) = JoinKeyAudit.probe(spark, w.pending,
        scala.collection.mutable.Map.empty)
      assert(offenders.isEmpty && unprobeable.isEmpty,
        (offenders ++ unprobeable).mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q105 mix weights move the corpus to the declared target") {
    val rows = Curation.q105MixWeights(spark, dir).collect()
    val shareSum = rows.map(_.getAs[Double]("cur_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares must sum to 1: $shareSum")
    for (r <- rows) {
      // weight * current share recovers the target share (up to the
      // 6-dp rounding of both factors)
      val target = if (Seq("src0", "src1", "src2", "src3", "src4")
        .contains(r.getAs[String]("source"))) 0.08 else 0.04
      val recovered = r.getAs[Double]("weight") * r.getAs[Double]("cur_share")
      assert(math.abs(recovered - target) < 1e-4,
        s"${r.getAs[String]("source")}: $recovered != $target")
    }
  }

  test("q102 approximate quantiles stay near their exact twins") {
    val rows = Curation.q102ApproxQuantileFull(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      // percentile_approx bounds RANK error, not value error — in a
      // heavy tail a one-rank slip can be a large value jump, so the
      // pin is a rank envelope: p50 within the bulk's 10% value band,
      // p99 within the exact [p0.97, max] value band
      val p50e = r.getAs[Double]("p50_exact")
      assert(math.abs(r.getAs[Double]("p50_approx") - p50e) <=
        0.1 * math.abs(p50e) + 1e-9)
      val p99a = r.getAs[Double]("p99_approx")
      assert(p99a >= r.getAs[Double]("p97_exact") &&
        p99a <= r.getAs[Double]("max_value"),
        s"p99 approx $p99a outside exact [p97, max] band")
    }
    // the oracle-checked projection carries the rank envelope as bits
    val ok = Curation.q102ApproxQuantile(spark, dir).collect()
    assert(ok.forall(r =>
      r.getAs[Int]("ok_p50") == 1 && r.getAs[Int]("ok_p99") == 1))
  }
}
