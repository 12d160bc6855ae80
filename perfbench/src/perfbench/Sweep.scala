package perfbench

import org.apache.spark.sql.DataFrame
import graft.SparkEntry

/** `sweep`: the operator library through the query library's entries
  * (`SparkEntry.queries`) over seeded tables with the testdata schemas.
  * Operators and functions over small inputs do the work; TierPipeline
  * does none. TierRoute is reached through the library's route leaf
  * ([[Routes]]), which writes a small tier and queries the raw table.
  *
  * The query set: the [[Named]] leaves the roadmap targets, the route leaf,
  * and a seeded sample of [[SampleSize]] of the rest. Names are matched
  * exactly; a missing name stops the run. The sample is run and checked in
  * every pass but kept out of the end-to-end figures, which would otherwise
  * move with the seed's choice of queries.
  *
  * Each query runs warm, after one cold execution, with the session cache
  * cleared after it. The timed sink is an order-insensitive hash of every
  * row and column ([[Inputs.fingerprint]]) rather than `graft.Bench`'s
  * `noop` write: it evaluates the same rows and columns (a final ORDER BY
  * without LIMIT is dropped under the aggregate) and yields the output
  * check without a second execution. Check: every pass's hash of a query
  * equals its hash from the cold execution.
  */
final class Sweep(ctx: Ctx) extends Workload {
  import ctx.spark
  import Sweep._

  private var dir: String = _
  private var selected: Seq[String] = Nil
  private val hashes = scala.collection.mutable.Map.empty[String, String]
  private def df(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  def setup(): Unit = {
    dir = Inputs.cached(spark, ctx.dir("inputs"), s"tables-s${ctx.opts.seed}-sf$Scale",
      Inputs.tables(spark, ctx.opts.seed, Scale)).toString
    selected = select(ctx.opts.seed)
  }

  private def hash(q: String): String = {
    val h = Inputs.fingerprint(df(q))
    spark.catalog.clearCache()
    h
  }

  /** The cold executions, three at a time: they are untimed, and their
    * driver-side planning and code generation overlap with execution. The
    * route leaves go first and alone: the TierRoute they register stays live
    * for later queries, as it does in every timed pass.
    */
  def warm(): Unit = {
    Routes.foreach(q => hashes(q) = hash(q))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val tasks = selected.filterNot(Routes.contains).map(q => pool.submit(() => q -> Inputs.fingerprint(df(q))))
      tasks.foreach { t => val (q, h) = t.get(); hashes(q) = h }
    } finally pool.shutdown()
    spark.catalog.clearCache()
  }

  def pass(): Unit = {
    // one collection per pass, as graft.Bench does between queries' passes
    System.gc()
    selected.foreach { q =>
      ctx.op(opName(q))(hash(q)).foreach { h =>
        ctx.check(h == hashes(q), s"$q: output hash ${hashes(q)} cold, $h in pass ${ctx.pass}")
      }
    }
  }

  private def opName(q: String) = if (Fixed.contains(q)) s"sweep.$q" else s"sample.$q"

  /** The seeded sample changes with the seed, so only the fixed set is timed
    * into the end-to-end figures; the sample is still run and checked.
    */
  override def endToEnd(op: String): Boolean = !op.startsWith("sample.")

  def layers(): Seq[Metric] = {
    val tr = ctx.tracer
    // the frames are built first: building some (the route leaf) runs jobs
    val frames = selected.map(df)
    val planS = frames.map { f =>
      val t0 = System.nanoTime(); f.queryExecution.executedPlan; (System.nanoTime() - t0) / 1e9
    }.sum
    spark.catalog.clearCache()
    tr.drain()
    val traced = ctx.samples.filter(_.traced)
    // the first traced pass's query spans: one per selected query, in order
    val spans = selected.map(q => q -> tr.find(opName(q)).head).toMap
    val all = new Counters()
    spans.values.foreach(s => all.add(tr.inclusive(s)))
    def passTotals(sample: Boolean) = Stats.median(traced.filter(_.op.startsWith("sample.") == sample)
      .groupBy(_.pass).values.map(_.map(_.ms).sum / 1e3).toSeq)
    Fixed.map { q =>
      Metric(s"sweep.$q.s", Stats.median(traced.filter(_.op == s"sweep.$q").map(_.ms / 1e3).toSeq), "s")
    } ++ Named.map { q =>
      Metric(s"sweep.$q.shuffle_records", tr.inclusive(spans(q)).shuffleWriteRecords.toDouble, "count")
    } ++ Seq(
      Metric("sweep.stages", all.stages.toDouble, "count"),
      Metric("sweep.tasks", all.tasks.toDouble, "count"),
      Metric("sweep.shuffle_bytes", all.shuffleWriteBytes.toDouble, "bytes"),
      Metric("sweep.spill_bytes", all.spillBytes.toDouble, "bytes"),
      Metric("sweep.gc_s", spans.values.map(_.gcMs).sum / 1e3, "s"),
      Metric("sweep.plan_s", planS, "s"),
      Metric("sweep.total_s", passTotals(sample = false), "s"),
      Metric("sweep.sample_s", passTotals(sample = true), "s"))
  }
}

object Sweep {
  /** Table scale: 0.005 ≈ 30k lineitem rows, 250 documents, 5k events. */
  val Scale = 0.005

  /** The leaves the roadmap's directions target. */
  val Named: Seq[String] = Seq("q228_ppjoin", "q214_containment", "q234_edit_join",
    "q198_sliding_distinct", "q196_sketch_promote", "q119_hist_quantile", "q110_range_read",
    "q199_pagerank", "q205_hits", "q227_ppr", "q380_textrank")

  /** A library leaf that registers a TierRoute over a block-carrying tier
    * and reads percentiles through it.
    */
  val Routes: Seq[String] = Seq("q203_route_pctl")

  val SampleSize = 2

  val Fixed: Seq[String] = Named ++ Routes

  def select(seed: Long): Seq[String] = {
    val fixed = Fixed
    val missing = fixed.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"sweep queries not in SparkEntry.queries: ${missing.mkString(", ")}")
    val rest = SparkEntry.queries.keys.toSeq.sorted.filterNot(fixed.contains)
    fixed ++ new scala.util.Random(seed).shuffle(rest).take(SampleSize)
  }
}
