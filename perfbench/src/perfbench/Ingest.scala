package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.Rollup
import graft.plans.TierPipeline

/** `ingest`: the write path. Each pass, on an empty store with `Config`
  * defaults: `buildAll` of the on-time pages, then the late slice through
  * `invalidateLate` and a `buildAll` replay over all pages, then `compact`
  * of every tier and `enforceRetention`. Rollup, the codec and TierPipeline
  * do the work; TierRoute does none.
  *
  * The builds write at most [[FileRows]] rows a file, so a tier partition
  * holds several small files, as incremental builds leave them, and
  * `compact` rewrites each such partition into one file.
  *
  * Checks, outside the timed ops: after the replay every tier hashes
  * (order-insensitively) to a fresh build of all pages, the 1d tier's
  * `sum(cnt)` and every tier's lineage `page_cnt` add up to the page count;
  * after compaction every tier partition holds one file; after retention
  * every tier hashes to the fresh build's rows of the days it keeps.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.spark

  val Pages = 20000L
  val Days = 2
  /** Days each tier keeps; 1d is kept forever. */
  val Policy: Map[String, Int] = Map("1m" -> 1, "5m" -> 2, "1h" -> 30)
  val FileRows = 400

  private var corpus: Inputs.Corpus = _
  private var reference: Map[String, String] = Map.empty
  /** [[reference]] restricted to the days each tier keeps under [[Policy]]. */
  private var retained: Map[String, String] = Map.empty
  private val store = ctx.dir("ingest/store")
  private def cfg(root: Path) = TierPipeline.Config(root.toString)
  private def total = corpus.nMain + corpus.nLate
  private def pagesMain = spark.read.parquet(corpus.main)
  private def pagesAll = spark.read.parquet(corpus.main, corpus.late)
  private def today = java.time.LocalDate.of(2024, 1, 1).plusDays(Days.toLong)

  /** Per-op work not visible to Spark's task metrics, from the first traced pass. */
  private val filesWritten = scala.collection.mutable.Map.empty[String, Double]
  private var usefulRatio = 0.0
  private var storeBytes = 0L

  def setup(): Unit =
    corpus = Inputs.corpus(spark, ctx.dir("inputs"), ctx.opts.seed, Pages, Days)

  /** A fresh build of all pages: the reference every replay must hash to.
    * It is also the first, JIT-paying execution of the pass's build (with
    * the same small files) and compaction, so the timed passes start warm.
    */
  def warm(): Unit = {
    val ref = ctx.dir("ingest/reference")
    Main.rmrf(ref)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", FileRows.toLong)
    TierPipeline.buildAll(pagesAll, cfg(ref), "reference")
    spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    reference = storedHashes(ref)
    retained = storedHashes(ref, keptOnly = true)
    checkTotals(ref, "reference")
    Rollup.Tiers.foreach(t => compact(cfg(ref), t.name, "reference"))
    Main.log("ingest: reference built")
  }

  def pass(): Unit = {
    Main.rmrf(store)
    val c = cfg(store)
    val record = ctx.tracer.on && filesWritten.isEmpty
    def counted[T](name: String)(f: => Option[T]): Option[T] = {
      val before = if (record) files(store) else Set.empty[Path]
      val r = f
      if (record) filesWritten(name) = (files(store) -- before).size.toDouble
      r
    }
    Main.log(s"ingest: pass ${ctx.pass}")
    // every pass starts from the same heap state
    System.gc()
    spark.conf.set("spark.sql.files.maxRecordsPerFile", FileRows.toLong)
    counted("pipeline.build")(ctx.op("pipeline.build")(TierPipeline.buildAll(pagesMain, c, "build")))
    val completeBefore = if (record) completeLineage(c) else Seq.empty
    val replay = counted("pipeline.replay")(ctx.op("pipeline.replay") {
      val invalidated = ctx.tracer.span("pipeline.replay.invalidate_late")(
        TierPipeline.invalidateLate(spark.read.parquet(corpus.late), c))
      (invalidated, ctx.tracer.span("pipeline.replay.build_all")(TierPipeline.buildAll(pagesAll, c, "replay")))
    })
    replay.foreach { case (invalidated, written) =>
      if (record) {
        val inv = invalidated.toSet
        val hit = completeBefore.count { case (_, d, hb) => inv.contains((d, hb)) }
        usefulRatio = hit.toDouble / math.max(1, written.values.map(_.size).sum)
      }
    }
    spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    verifyReplay(store)
    ctx.check(multiFile(store).nonEmpty, s"pass ${ctx.pass}: no tier partition with several files to compact")
    counted("pipeline.compact")(ctx.op("pipeline.compact") {
      Rollup.Tiers.foreach { t =>
        ctx.tracer.span(s"pipeline.compact.tier_${t.name}")(compact(c, t.name, "compact"))
      }
    })
    if (record) storeBytes = tierBytes(store)
    val multi = multiFile(store)
    ctx.check(multi.isEmpty, s"pass ${ctx.pass}: partitions left with several files by compact: ${multi.mkString(", ")}")
    counted("pipeline.retention")(ctx.op("pipeline.retention") {
      TierPipeline.enforceRetention(spark, c, Policy, today, "retention")
    })
    // a tier that retention emptied has no files left to read
    val got = scala.util.Try(storedHashes(store))
    ctx.check(got.isSuccess, s"pass ${ctx.pass}: tiers unreadable after maintenance: ${got.failed.map(_.getMessage).getOrElse("")}")
    got.foreach(g => Rollup.Tiers.foreach { t =>
      ctx.check(g(t.name) == retained(t.name),
        s"pass ${ctx.pass}: tier ${t.name} after maintenance differs from the fresh build's kept days")
    })
  }

  /** Rewrites every partition of `tier` that holds more than one file. */
  private def compact(c: TierPipeline.Config, tier: String, runId: String) =
    TierPipeline.compact(spark, c, tier, 1, 8L << 20, runId)

  private def verifyReplay(root: Path): Unit = {
    val got = storedHashes(root)
    Rollup.Tiers.foreach { t =>
      ctx.check(got(t.name) == reference(t.name),
        s"pass ${ctx.pass}: replayed tier ${t.name} differs from a fresh build")
    }
    checkTotals(root, s"pass ${ctx.pass}")
  }

  private def checkTotals(root: Path, what: String): Unit = {
    val c = cfg(root)
    val cnt1d = TierPipeline.readTier(spark, c, "1d").agg(sum("cnt")).head().getLong(0)
    ctx.check(cnt1d == total, s"$what: 1d sum(cnt) $cnt1d != $total pages")
    val lin = TierPipeline.lineage(spark, c.root).filter(col("status") === "complete")
      .groupBy("tier").agg(sum("page_cnt")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Rollup.Tiers.foreach { t =>
      ctx.check(lin.get(t.name).contains(total), s"$what: lineage page_cnt of ${t.name} is ${lin.get(t.name)}, not $total")
    }
  }

  /** Order-insensitive hash of each stored tier's value columns (set order
    * normalised), in one job; with `keptOnly`, of the rows of the days the
    * tier keeps under [[Policy]].
    */
  private def storedHashes(root: Path, keptOnly: Boolean = false): Map[String, String] =
    Inputs.fingerprints(Rollup.Tiers.map(_.name).map { t =>
      val firstDay = Policy.get(t).filter(_ => keptOnly).fold("")(d => today.minusDays(d.toLong).toString)
      t -> TierPipeline.readTier(spark, cfg(root), t)
        .filter(date_format(timestamp_seconds(col("bucket_start")), "yyyy-MM-dd") >= firstDay)
        .select(col("tld"), col("registered_domain"), col("host"), col("bucket_start"), col("cnt"),
          col("sum_len"), col("min_len"), col("max_len"), col("p50_len"), col("p95_len"),
          array_sort(col("lang_set")).as("lang_set"), col("block"))
    })

  private def completeLineage(c: TierPipeline.Config): Seq[(String, String, Int)] =
    TierPipeline.lineage(spark, c.root).filter(col("status") === "complete")
      .select("tier", "day", "host_bucket").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq

  private def files(root: Path): Set[Path] =
    if (!Files.exists(root)) Set.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSet

  /** Tier partition directories holding more than one data file. */
  private def multiFile(root: Path): Iterable[Path] =
    Rollup.Tiers.flatMap(t => files(root.resolve(s"tier_${t.name}")))
      .groupBy(_.getParent).filter(_._2.size > 1).keys

  private def tierBytes(root: Path): Long = Rollup.Tiers.map { t =>
    files(root.resolve(s"tier_${t.name}")).toSeq.map(Files.size).sum
  }.sum

  def layers(): Seq[Metric] = {
    val tr = ctx.tracer
    // the store is compacted and past retention: a resume finds nothing pending
    tr.span("pipeline.noop_resume")(TierPipeline.buildAll(pagesAll, cfg(store), "noop"))
    val receipts = Receipts.pages(ctx, pagesAll, cfg(store))
    tr.drain()
    def traced(op: String) = ctx.samples.filter(s => s.traced && s.op == op).map(_.ms / 1e3).toSeq
    val steps = Seq("build", "replay", "compact", "retention").flatMap { step =>
      val name = s"pipeline.$step"
      val c = tr.inclusive(tr.find(name).head)
      Seq(Metric(s"$name.s", Stats.median(traced(name)), "s"),
        Metric(s"$name.jobs", c.jobs.toDouble, "count"),
        Metric(s"$name.input_bytes", c.inputBytes.toDouble, "bytes"),
        Metric(s"$name.output_bytes", c.outputBytes.toDouble, "bytes"),
        Metric(s"$name.files_written", filesWritten.getOrElse(name, 0.0), "count"))
    }
    val noop = tr.find("pipeline.noop_resume").head
    steps ++ receipts ++ Seq(
      Metric("pipeline.replay.useful_ratio", usefulRatio, "ratio"),
      Metric("pipeline.noop_resume.s", noop.seconds, "s"),
      Metric("pipeline.noop_resume.input_bytes", tr.inclusive(noop).inputBytes.toDouble, "bytes"),
      Metric("pipeline.build.pages_per_s", corpus.nMain / Stats.median(traced("pipeline.build")), "1/s"),
      Metric("pipeline.store_bytes_per_page", storeBytes.toDouble / total, "bytes"))
  }
}
