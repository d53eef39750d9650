package graft.queries

import graft.SparkSuite

/** Plan-shape tripwire for the single-evaluation forms (round-17
  * commit "Single-evaluation forms for the converted rounding sites"):
  * `Relational.dratio` references its denominator operand TWICE, so
  * feeding it an inline window expression would get that window
  * planned (and paid) twice — the conversion names the window total
  * first. Same class for the one-decimal-aggregate derivations in
  * q167/q183. The A/B measured the converted plans neutral; these pins
  * keep them that way by counting the physical plan's Window and
  * HashAggregate operators, so an inadvertent inline-back fails
  * `sbt test` instead of silently doubling a shuffle-adjacent
  * operator. Counts are pinned against the Spark build in
  * /opt/spark/jars (the engine this repo rides); a Spark upgrade that
  * legitimately replans these may re-pin with a note. */
class SingleEvaluationPinSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def counts(name: String): (Int, Int) = {
    val p = graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString
    ("Window".r.findAllIn(p).size, "HashAggregate".r.findAllIn(p).size)
  }

  test("the Jaccard pair verifies keep array_intersect at its floor count") {
    // The achievable floors after the round-18 integer-threshold fix
    // (the round-17 pin at n=1 for q23 was WRONG — PushDownPredicates
    // inlines a `jaccard`-alias filter through the Project, and with
    // `jaccard` referencing `inter` twice the pushed join predicate
    // carried TWO intersects plus the projection's one: n=3). The
    // threshold now cross-multiplies into an integer predicate on the
    // named `inter` BEFORE `jaccard` exists, so:
    //  - q197 (no threshold filter): the one named projection — n=1.
    //  - q23 (outputs jaccard): the pushed predicate's ONE intersect
    //    (evaluated per candidate pair in the join) + the survivor
    //    projection's one (per survivor) — n=2. These sit in
    //    DIFFERENT operators (join condition vs post-join Project),
    //    so no CSE can merge them; 2 is the floor while the output
    //    carries the score.
    //  - q37/q104 (kill rules — score never output): column pruning
    //    drops the score projection; only the pushed predicate's
    //    intersect survives — n=1, the true single-evaluation form.
    //  - q148 (outputs containment): same shape as q23 — n=2.
    // A rise above these floors means a filter on the score alias
    // crept back in (pushdown-inlined, intersect duplicated per
    // CANDIDATE, the expensive population) and must fail sbt test.
    val pinned = Map(
      "q197_lsh_pr_curve" -> 1,
      "q23_minhash_pairs" -> 2,
      "q37_dedup_near_keep" -> 1,
      "q104_incremental_dedup" -> 1,
      "q148_containment" -> 2)
    for ((name, expected) <- pinned.toSeq.sortBy(_._1)) {
      val p = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val n = "array_intersect".r.findAllIn(p).size
      assert(n === expected,
        s"$name physical plan evaluates array_intersect $n times " +
          s"(floor $expected) — a score-alias filter was pushdown-" +
          "inlined, or the integer threshold predicate was dropped")
    }
  }

  test("q104 derives each document's shingles once per execution") {
    // One shingle projection per side (new, old) over three scans (the
    // two sides and the increment the kills are joined back to). A
    // signature cache unpersisted before the caller plans the query
    // re-derives the shingles once per reference (a per-band union
    // form read 18 md5 and 11 scans), and a null filter on a band
    // column is pushed into the scan with the shingle alias inlined (a
    // second evaluation per reference).
    val p = graft.SparkEntry.queries("q104_incremental_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    val got = ("md5\\(".r.findAllIn(p).size,
      "FileScan parquet".r.findAllIn(p).size)
    assert(got === ((2, 3)),
      s"q104 plan carries (md5, parquet scans) = $got, pinned (2, 3) — " +
        "a signature cache dropped before execution re-derives the " +
        "shingles per reference, or a null-band filter was inlined " +
        "into the shingle projection")
  }

  test("the converted queries keep their single-evaluation plan shapes") {
    // (Window, HashAggregate) counts of the verified post-conversion
    // plans. The regression each pin trips: q180 at 3 windows / q80 at
    // 2 means the dratio denominator window got inlined (planned
    // twice); a HashAggregate rise on q167/q183 means the raw+rounded
    // (resp. moments+micro-unit) derivation split back into parallel
    // aggregate buffers.
    val pinned = Map(
      "q180_transitions" -> ((2, 2)), // lag window + NAMED row_total
      "q80_mix_report" -> ((1, 2)),
      "q167_bm25" -> ((1, 10)),
      "q183_dim_stats" -> ((1, 2)))
    for ((name, expected) <- pinned.toSeq.sortBy(_._1)) {
      val got = counts(name)
      assert(got === expected,
        s"$name plan shape drifted to (Window, HashAggregate) = $got " +
          s"(pinned $expected) — if dratio's denominator window was " +
          "inlined, re-name it; if Spark replanned legitimately, re-pin " +
          "with a note")
    }
  }
}
