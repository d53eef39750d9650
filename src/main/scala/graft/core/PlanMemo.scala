package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.GraftScheduler
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prepared-statement cache for the declarative query surface.
  *
  * A `queries` entry is a FUNCTION `(session, sfDir) => DataFrame`;
  * every invocation re-runs the Scala-side DataFrame construction,
  * and — because the Dataset API analyzes eagerly at every chained
  * transformation — re-runs the analyzer dozens of times on growing
  * trees. For the ~230 sub-second queries that construction is pure
  * fixed overhead (~35-45 ms each, measured by `graft.tools.Profile`):
  * the logical plan it produces is identical on every call for the
  * same (session, dir, fixture fingerprint).
  *
  * This memo caches a LOGICAL PLAN only — the optimizer's fixpoint
  * output (see [[cached]]). Serving a hit goes
  * through [[PlanBridge.ofRows]], which builds a FRESH `Dataset` with
  * a fresh `QueryExecution`: analysis check, cache lookup, the
  * optimizer (a fast re-convergence over its own output), physical
  * planning, AQE stage re-planning, and every exchange all run anew
  * on each action, so a bench rep still executes the entire query
  * over the data. Nothing result-shaped is cached (contrast a result
  * cache, which would turn reps into no-ops). This is the same
  * contract as a SQL engine's prepared statements: parse/analyze/
  * optimize once, execute many. (The one
  * documented exception on the wider query surface is OUTSIDE this
  * memo: q244's managed BPE merge artifact, whose merge list IS the
  * query result — see the bench-semantics note in
  * [[graft.queries.TextAnalysis]].)
  *
  * Safety rails:
  *  - **Purity probe**: a query whose CONSTRUCTION launches Spark
  *    jobs (iterative trainers like the BPE loop, k-means, connected
  *    components; anything with a driver-side fixpoint or an internal
  *    `.cache()` materialization) does real per-call work that a memo
  *    would silently skip. The wrapper compares the DAGScheduler's
  *    synchronous job counter before/after the first construction;
  *    if any job ran, the query is pinned non-memoizable for the
  *    session and every later call re-runs `fn` in full.
  *  - **Fixture staleness**: the key carries a fingerprint of the
  *    data directory (its mtime plus every child entry's name+mtime),
  *    so a regenerated fixture yields a fresh plan — same convention
  *    as [[Tables.load]]'s relation memo.
  *  - **Session scoping**: sessions are weakly keyed; a stopped
  *    session's plans are collectable.
  *
  * Side-effectful families (the export pipeline and streaming
  * queries, whose fn IS the work) are never wrapped — see
  * [[graft.SparkEntry]].
  */
object PlanMemo {

  private final case class Entry(plan: LogicalPlan)

  private val memo = new java.util.WeakHashMap[
    SparkSession, ConcurrentHashMap[(String, String, Long), Entry]]()

  private def perSession(s: SparkSession) = memo.synchronized {
    var m = memo.get(s)
    if (m == null) {
      m = new ConcurrentHashMap[(String, String, Long), Entry]()
      memo.put(s, m)
    }
    m
  }

  /** Directory fingerprint: mtime of `dir` plus a hash of each child
    * entry's (name, mtime, size) and of the first and last 4 KiB of
    * each child FILE's content. Rewriting a parquet file in place,
    * adding or removing one, or re-creating the directory all change
    * it; the size term catches a rewrite inside the same millisecond
    * mtime tick whenever the bytes moved, and the head/tail probe
    * catches a same-size same-tick rewrite whenever it touches either
    * 4 KiB window — for parquet that is effectively always, because
    * the footer (row-group stats, created_by) lives in the tail. The
    * ACCEPTED residual blind spot is a same-size, same-millisecond,
    * middle-only rewrite that leaves both windows byte-identical —
    * below the granularity any portable stat+probe gives without
    * hashing whole files on every call. Shared with the managed
    * per-dir artifact caches outside this object (e.g.
    * [[graft.queries.TextAnalysis]]'s BPE vocab/merge artifacts),
    * which carry the same staleness contract.
    *
    * Cost: two pread syscalls per child file (OS page cache — tens of
    * µs per fixture dir), paid once per query construction; serving a
    * memo hit pays it too, keeping hits honest.
    *
    * An UNREADABLE dir returns a fresh negative sentinel per call, so
    * no cache keyed on it can ever serve a hit — IO errors fail open
    * to a rebuild, never to a stale artifact ([[cached]] additionally
    * bypasses its map entirely on a sentinel, so a persistently
    * unreadable dir cannot grow the memo by one entry per call). */
  private val fpErrSentinel = new java.util.concurrent.atomic.AtomicLong(-1L)
  private[graft] def fingerprint(dir: String): Long = {
    try {
      val p = java.nio.file.Path.of(dir)
      var h = java.nio.file.Files.getLastModifiedTime(p).toMillis
      val st = java.nio.file.Files.list(p)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val c = it.next()
          h = h * 1000003L + c.getFileName.toString.hashCode
          h = h * 1000003L +
            java.nio.file.Files.getLastModifiedTime(c).toMillis
          h = h * 1000003L +
            (try java.nio.file.Files.size(c) catch { case _: Exception => -1L })
          h = h * 1000003L + contentProbe(c)
        }
      } finally st.close()
      // the hash space is keys, not a flag channel: keep computed
      // fingerprints out of the sentinel range (negative = error)
      h & Long.MaxValue
    } catch { case _: Exception => fpErrSentinel.getAndDecrement() }
  }

  /** Hash of a regular file's first and last 4 KiB (whole file when
    * ≤ 8 KiB); 0 for directories. Unreadable children degrade to a
    * local -1 rather than failing the whole fingerprint — the parent
    * mtime/size terms still distinguish most rewrites, and a probe
    * that THROWS here would turn one locked file into a permanent
    * rebuild storm. */
  private def contentProbe(p: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.isRegularFile(p)) return 0L
    try {
      val ch = java.nio.channels.FileChannel.open(
        p, java.nio.file.StandardOpenOption.READ)
      try {
        val sz = ch.size()
        val w = 4096
        def hashAt(pos: Long, len: Int): Long = {
          val buf = java.nio.ByteBuffer.allocate(len)
          var off = pos
          while (buf.hasRemaining) {
            val r = ch.read(buf, off)
            if (r < 0) return buf.position().toLong * 31L // short file tail
            off += r
          }
          var h = 1125899906842597L
          var i = 0
          while (i < buf.position()) {
            h = h * 1000003L + buf.get(i); i += 1
          }
          h
        }
        if (sz <= 2L * w) hashAt(0L, sz.toInt)
        else hashAt(0L, w) * 1000003L + hashAt(sz - w, w)
      } finally ch.close()
    } catch { case _: Exception => -1L }
  }

  /** Wrap one query function with the plan memo. A job-free
    * construction memoizes its OPTIMIZED plan, so a hit also skips the
    * per-call optimizer fixpoint, yet is served as a fresh Dataset
    * whose own QueryExecution re-runs analysis-check, the optimizer
    * (one cheap iteration over its own fixpoint output), physical
    * planning, AQE and every exchange (round 22: q185's optimization
    * fell from 0.76 s per rep to ~30 ms; 278/278 hash match at
    * sf0.001/sf0.01/sf0.1). */
  def cached(name: String, fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (s, dir) =>
    val fp = fingerprint(dir)
    if (fp < 0) {
      // IO-error sentinel: bypass the memo entirely. Keying on the
      // (unique-per-call) sentinel could never serve a stale hit, but
      // a job-free construction would m.put a NEW entry per call — an
      // unbounded leak on a persistently unreadable dir.
      fn(s, dir)
    } else {
      val key = (name, dir, fp)
      val m = perSession(s)
      m.get(key) match {
        case Entry(plan) =>
          PlanBridge.ofRows(s, plan)
        case null =>
          // Probe EVERY call until one constructs job-free: a cold
          // first call legitimately runs jobs (Tables.load file
          // listing, an internal cache materialization) and must not
          // pin the query out; an iterative query runs jobs on every
          // construction and so never memoizes.
          val before = GraftScheduler.jobsSubmitted(s.sparkContext)
          val df = fn(s, dir)
          val after = GraftScheduler.jobsSubmitted(s.sparkContext)
          if (after == before)
            m.put(key, Entry(df.queryExecution.optimizedPlan))
          df
      }
    }
  }

  /** Live memo entry count for a session — the sentinel-bypass leak
    * pin in PlanMemoSpec (an unreadable dir must not grow the memo). */
  private[graft] def entriesFor(s: SparkSession): Int = perSession(s).size()

  /** Wrap a whole module's `queries` map. */
  def wrap(qs: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    qs.map { case (n, fn) => n -> cached(n, fn) }
}

/** Prepared single-leaf transform — the [[PlanMemo]] contract applied
  * to a `foreachBatch` sink: `build` (a pure DataFrame-API pipeline)
  * is constructed and ANALYZED exactly once, over a placeholder
  * relation of `schema`; [[PreparedTransform.lift]] then serves each
  * micro-batch by splicing the batch's own analyzed plan in for the
  * placeholder, with outputs aligned positionally through
  * exprId-pinned aliases. The served DataFrame is a fresh Dataset
  * over the swapped analyzed tree — optimization, physical planning,
  * and every job run anew per call, so each batch still executes the
  * full pipeline over ITS data; only the per-batch DataFrame-API
  * construction (one eager analyzer pass per chained transformation,
  * the dominant fixed cost of a small micro-batch) is skipped.
  * Nothing result-shaped is reused: the leaf IS the new batch.
  *
  * The session passed at construction is used to ANALYZE the template
  * and is NOT retained as a field — [[lift]] serves through the
  * BATCH's own session, so an instance holds only session-free
  * analyzed trees and a session-keyed weak memo of instances stays
  * collectable once its session is (the [[PlanMemo]] session-scoping
  * contract; a retained session would make the weak entry immortal).
  *
  * Known restriction (conservative fail-loud guard): `build` must not
  * join/union its input against ANOTHER literal `LocalRelation` of
  * the same schema — the single-reference guard counts all
  * same-schema LocalRelation leaves and cannot tell a caller-supplied
  * same-shape lookup literal from an analyzer dedup copy of the
  * placeholder (whose spliced twin would silently compute over empty
  * input). Give such a lookup a distinguishing column name/type, or
  * read it from a non-local source.
  */
final class PreparedTransform(constructionSession: SparkSession,
    schema: org.apache.spark.sql.types.StructType,
    build: DataFrame => DataFrame) {
  // Deliberately NOT Serializable: the template is driver-side state,
  // and lift is a driver-side (foreachBatch-style) operation —
  // shipping an instance into a task closure should fail at closure
  // cleaning, not NPE on a transient field at run time.
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}

  @transient private val placeholder = LocalRelation(
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema))
  // constructionSession is referenced ONLY here (constructor body), so
  // scalac does not promote it to a field — verified by reflection in
  // PlanMemoSpec ("PreparedTransform retains no SparkSession field").
  @transient private val template =
    build(PlanBridge.ofRows(constructionSession, placeholder))
      .queryExecution.analyzed

  // Single-reference contract, enforced at construction: a build that
  // references its input MORE than once (self-join, self-union) is
  // rejected — analysis deduplicates the second occurrence into a
  // COPY of the placeholder with fresh exprIds, the eq-based splice
  // would swap only the original, and the copied branch would compute
  // over the EMPTY placeholder (silent row loss). One same-schema
  // LocalRelation leaf, it must BE the placeholder instance, and the
  // walk descends into subquery-expression plans (a reference hidden
  // in an exists/scalar subquery must not evade the guard).
  {
    val sameSchemaLeaves = template.collectWithSubqueries {
      case lr: LocalRelation if lr.schema == placeholder.schema => lr
    }
    require(sameSchemaLeaves.size == 1 &&
      (sameSchemaLeaves.head eq placeholder),
      "PreparedTransform build must reference its input DataFrame " +
        s"exactly once (found ${sameSchemaLeaves.size} same-schema " +
        "leaves, subqueries included); a multi-reference pipeline " +
        "cannot be leaf-spliced")
  }

  def lift(batch: DataFrame): DataFrame = {
    val leaf = batch.queryExecution.analyzed
    require(leaf.output.size == placeholder.output.size &&
      leaf.output.zip(placeholder.output).forall { case (a, t) =>
        // names must match positionally (a type-preserving column
        // reorder would otherwise bind data crosswise), and
        // nullability narrows only: a nullable batch column under a
        // non-nullable template attribute would let the optimizer
        // fold null checks on data that CAN be null
        a.name == t.name && a.dataType == t.dataType &&
          (t.nullable || !a.nullable) },
      s"batch schema ${leaf.schema.simpleString} does not conform to " +
        s"the prepared ${schema.simpleString}")
    val aligned = Project(leaf.output.zip(placeholder.output).map {
      case (a, t) => Alias(a, t.name)(exprId = t.exprId) }, leaf)
    var swapped = false
    val spliced = template.transformUpWithSubqueries {
      case lr: LocalRelation if lr eq placeholder => swapped = true; aligned
    }
    // a silent non-swap would serve the EMPTY placeholder — fail loud
    require(swapped, "prepared template lost its placeholder leaf")
    // served through the BATCH's session (not a retained construction
    // session) — see the class doc's collectability contract
    PlanBridge.ofRows(batch.sparkSession, spliced)
  }
}
