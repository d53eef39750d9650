package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkEntry

/** Query executions from the `SparkEntry.queries` surface over the
  * tables in `dataDir`, in an order the seed permutes. Each timed
  * execution is a full-compute write through [[HashSink]] and must
  * reproduce the row count and hash of the output that an untimed
  * first pass wrote as parquet, which the runner checks against the
  * query's `SparkEntry.oracleSql` twin in DuckDB. `families` names the
  * group each query's time is summed into. A query's input is the
  * tables at the leaves of its analyzed plan, counted in full: a fixed
  * property of the workload, which pruning or re-reading does not
  * change. */
final class Queries(h: Harness, dataDir: String, names: Seq[String],
    families: Map[String, String]) extends Workload {
  private val spark = h.spark
  private val order = new scala.util.Random(h.seed).shuffle(names)
  private val fns = SparkEntry.queries
  private val verified = mutable.Map.empty[String, HashSink.Digest]
  // operations per query that passed the digest check: the runner
  // counts them as failed if the query's oracle check fails
  private val passed = mutable.Map.empty[String, Int].withDefaultValue(0)
  // rows and bytes of the tables each query reads, and the bytes of
  // its verified output
  private val inRows = mutable.Map.empty[String, Double]
  private val inBytes = mutable.Map.empty[String, Double]
  private val outBytes = mutable.Map.empty[String, Double]
  private val verifyDir = h.dir("verify")
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  override def minOps: Int = 2 * order.size
  override def passOps: Int = order.size

  /** Loads every input table through the program's table loader and
    * scans it in full. */
  override def setup(): Unit =
    tables.foreach(t => graft.core.Tables.load(spark, dataDir, t)
      .write.format("noop").mode("overwrite").save())

  /** The parquet tables at the leaves of a query's analyzed plan,
    * subqueries included. */
  private def tablesRead(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths }.flatten
      .map(_.getName.stripSuffix(".parquet")).toSet

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter { p =>
      val f = p.getFileName.toString
      Files.isRegularFile(p) && !f.startsWith(".") && !f.startsWith("_")
    }.toSeq
    finally s.close()
  }

  /** The untimed first pass writes each query's output as parquet for
    * the oracle check and takes its digest from what was written. A
    * second untimed pass runs as the timed ones do: queries still get
    * faster after their first run, while the JIT compiles their paths. */
  override def warm(): Unit = {
    val rows = tables.map(t => t -> graft.core.Tables.load(spark, dataDir, t).count()).toMap
    order.foreach { q =>
      h.op(s"$q-verify") {
        val out = verifyDir.resolve(q)
        val df = fns(q)(spark, dataDir)
        val read = tablesRead(df)
        val known = read.nonEmpty && read.subsetOf(rows.keySet)
        if (!known) h.fail(s"$q reads tables $read, not a subset of $tables")
        System.err.println(s"[perfbench] $q reads ${read.toSeq.sorted.mkString(",")}")
        inRows(q) = read.toSeq.map(t => rows.getOrElse(t, 0L).toDouble).sum
        inBytes(q) = read.toSeq.map(t => dataFiles(Paths.get(dataDir, s"$t.parquet"))
          .map(Files.size).sum.toDouble).sum
        df.write.mode("overwrite").parquet(out.toString)
        outBytes(q) = dataFiles(out).map(Files.size).sum.toDouble
        verified(q) = HashSink.digest(spark.read.parquet(out.toString))
        if (known) passed(q) += 1
        (known, 0.0)
      }
    }
    order.indices.foreach(op)
  }

  /** Bytes of every query's verified parquet output per byte of the
    * tables the queries read. */
  override def outBytesPerInByte: Double = outBytes.values.sum / inBytes.values.sum

  override def op(i: Int): Op = {
    val q = order(i % order.size)
    var constructS = 0.0
    val o = h.op(q) {
      val t0 = System.nanoTime()
      val df: DataFrame = h.tracer.fold(fns(q)(spark, dataDir))(
        _.span("core.construct")(fns(q)(spark, dataDir)))
      constructS = (System.nanoTime() - t0) / 1e9
      val d = h.tracer.fold(HashSink.digest(df))(_.span("query.execute")(HashSink.digest(df)))
      val ok = verified.get(q).contains(d)
      if (ok) passed(q) += 1
      else h.fail(s"$q: output $d differs from verified ${verified.get(q).orNull}")
      (ok, 0.0)
    }
    o.copy(records = inRows.getOrElse(q, 0.0), eng = o.eng + ("construct_s" -> constructS))
  }

  override def perLayer(ops: Seq[Op]): Map[String, Double] = {
    val med = ops.filter(_.ok).groupBy(_.name)
      .map { case (q, v) => q -> v.map(_.ns / 1e9).min }
    val fam = families.values.toSeq.distinct.map { f =>
      s"family.${f}_s" -> med.filter { case (q, _) => families.get(q).contains(f) }.values.sum
    }.toMap
    val construct = Stats.mean(ops.filter(_.ok).map(_.eng.getOrElse("construct_s", 0.0)))
    fam + ("core.construct_s" -> construct)
  }

  /** Times each query once under `count()` and records its gap to the
    * full-compute time. */
  override def traceExtras(timed: Seq[Op]): (Map[String, Double], Map[String, Any]) = {
    val full = timed.filter(_.ok).groupBy(_.name)
      .map { case (q, v) => q -> v.map(_.ns / 1e9).min }
    val gaps = order.map { q =>
      val c = h.tracer.fold(h.timeS(fns(q)(spark, dataDir).count()))(
        _.span(s"count.$q")(h.timeS(fns(q)(spark, dataDir).count())))
      q -> Map("count_s" -> c, "full_s" -> full.getOrElse(q, 0.0),
        "full_over_count" -> (if (c > 0) full.getOrElse(q, 0.0) / c else 0.0))
    }.toMap
    val countSum = gaps.values.map(_("count_s")).sum
    (Map("queries.full_over_count" -> (if (countSum > 0) full.values.sum / countSum else 0.0)),
      Map("count_gap" -> gaps))
  }

  override def oracle: Seq[Map[String, Any]] = order.map { q =>
    Map("query" -> q, "dir" -> verifyDir.resolve(q).toString,
      "sql" -> SparkEntry.oracleSql.getOrElse(q, ""), "passed" -> passed(q))
  }
}
