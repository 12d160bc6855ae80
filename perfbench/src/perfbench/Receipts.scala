package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.functions.codec.{PointSort, TsCodec}
import graft.operators.Rollup
import graft.plans.TierPipeline

/** Layer receipts of a traced run over a page corpus and its store:
  * a warm scan of the raw columns (`sources`), direct codec calls on blocks
  * of the stored 1m tier (`codec`), and the in-memory cascade run step by
  * step with each step's output cached (`rollup`).
  */
object Receipts {
  val Steps: Seq[(String, Long)] =
    Seq("tier1m" -> 60L, "promote_5m" -> 300L, "promote_1h" -> 3600L, "promote_1d" -> 86400L)

  def pages(ctx: Ctx, pages: DataFrame, cfg: TierPipeline.Config): Seq[Metric] =
    sources(ctx, pages) ++ codec(ctx, cfg) ++ rollup(ctx, pages)

  private def sources(ctx: Ctx, pages: DataFrame): Seq[Metric] = {
    val raw = pages.select("url", "warc_ts", "html", "text", "lang")
    Main.noop(raw)
    (1 to 3).foreach(_ => ctx.tracer.span("sources.scan")(Main.noop(raw)))
    ctx.tracer.drain()
    val scans = ctx.tracer.find("sources.scan")
    Seq(Metric("sources.scan_s", Stats.median(scans.map(_.seconds)), "s"),
      Metric("sources.input_bytes", ctx.tracer.inclusive(scans.head).inputBytes.toDouble, "bytes"))
  }

  /** Median ns per point of `f` over `points` points, repeated until 50 ms. */
  private def nsPerPoint(points: Long)(f: => Unit): Double = Stats.median((1 to 5).map { _ =>
    var reps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 50000000L) { f; reps += 1 }
    (System.nanoTime() - t0).toDouble / reps / points
  })

  private def codec(ctx: Ctx, cfg: TierPipeline.Config): Seq[Metric] = {
    val spark = ctx.spark
    // every block of the first hosts, in (host, minute) order: the same
    // sample on every run of a seed
    val rows = TierPipeline.readTier(spark, cfg, "1m")
      .select("host", "bucket_start", "block").orderBy("host", "bucket_start").limit(4000).collect()
    val blocks = rows.map(_.getAs[Array[Byte]]("block"))
    val decoded = blocks.map(TsCodec.decode)
    val points = decoded.map(_._1.length.toLong).sum
    ctx.check(blocks.zip(decoded).forall { case (b, (ts, vs)) => TsCodec.encode(ts, vs).sameElements(b) },
      "codec: re-encoding a stored 1m block changed its bytes")
    // merge runs as promotion does: the 1m blocks of one host-hour
    val hours = rows.indices.groupBy(i => (rows(i).getString(0), rows(i).getLong(1) / 3600)).values.toSeq
      .map(ix => (ix.map(decoded(_)._1).toArray, ix.map(decoded(_)._2).toArray))
    ctx.tracer.span("codec") {
      Seq(Metric("codec.decode_ns_per_point", nsPerPoint(points)(blocks.foreach(TsCodec.decode)), "ns"),
        Metric("codec.encode_ns_per_point",
          nsPerPoint(points)(decoded.foreach { case (ts, vs) => TsCodec.encode(ts, vs) }), "ns"),
        Metric("codec.merge_ns_per_point",
          nsPerPoint(points)(hours.foreach { case (ts, vs) => PointSort.mergeSortedRuns(ts, vs) }), "ns"),
        Metric("codec.bytes_per_point", blocks.map(_.length.toLong).sum.toDouble / points, "bytes"))
    }
  }

  private def rollup(ctx: Ctx, pages: DataFrame): Seq[Metric] = {
    val tr = ctx.tracer
    var prev: DataFrame = null
    Steps.foreach { case (step, seconds) =>
      val next = tr.span(s"rollup.$step") {
        val t = (if (prev == null) Rollup.tier1m(pages) else Rollup.promote(prev, seconds))
          .persist(StorageLevel.MEMORY_ONLY)
        Main.noop(t)
        t
      }
      if (prev != null) prev.unpersist(blocking = true)
      prev = next
    }
    prev.unpersist(blocking = true)
    tr.drain()
    Steps.flatMap { case (step, _) =>
      val s = tr.find(s"rollup.$step").head
      val c = tr.inclusive(s)
      val n = s"rollup.$step"
      Seq(Metric(s"$n.s", s.seconds, "s"),
        Metric(s"$n.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes"),
        Metric(s"$n.shuffle_records", c.shuffleWriteRecords.toDouble, "count"),
        Metric(s"$n.spill_bytes", c.spillBytes.toDouble, "bytes"),
        Metric(s"$n.gc_s", s.gcMs / 1e3, "s"),
        Metric(s"$n.peak_exec_mem_mb", c.peakExecMem / 1048576.0, "MB"),
        Metric(s"$n.task_max_over_median", c.taskMaxOverMedian, "ratio"))
    }
  }
}
