package perfbench

import java.io.File
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sources.{GraftQueueBroker, GraftQueueSource}
import graft.streaming.Pipelines

/** The two paper samples as streams over the graft queue source. */
object Streams {
  /** Micro-batch interval of the table-sink stream: longer than a
    * trigger takes at the benchmark's rate, so latency is wait plus one
    * trigger. With 500 ms the triggers ran back to back and the
    * run-to-run spread of the latencies doubled. */
  val TriggerMs = 2000L
  /** Open-loop publish tick. */
  val TickMs = 100L
  /** Share of message ids published twice (broker redelivery). */
  val RedeliveredShare = 0.1

  private def endMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)

  private def endOffsets(p: StreamingQueryProgress): Map[String, Long] =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(GraftQueueSource.offsetsFromJson).getOrElse(Map.empty)

  private def spoolFiles(broker: String): Int =
    Option(new File(broker).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(d => Option(d.list()).map(_.count(_.startsWith("spool-"))).getOrElse(0)).sum

  private def parquetFiles(dir: File): Int =
    if (dir.isFile) (if (dir.getName.endsWith(".parquet")) 1 else 0)
    else if (dir.getName.startsWith("_")) 0
    else Option(dir.listFiles()).toSeq.flatten.map(parquetFiles).sum

  private def backlog(broker: String, queues: Seq[String]): Long =
    queues.map(q => GraftQueueSource.available(broker, q) -
      GraftQueueSource.ackedCount(broker, q)).sum

  /** Block until every queue's committed end offset reaches `target`. */
  private def awaitOffsets(q: StreamingQuery, target: Map[String, Long], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = q.recentProgress.exists { p =>
      val e = endOffsets(p)
      target.forall { case (k, v) => e.getOrElse(k, 0L) >= v }
    }
    while (!done && System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(20)
    done
  }

  /** Weighted sample: each value repeated by its weight (weights are small). */
  private def expand(xs: Seq[(Double, Int)]): Seq[Double] = xs.flatMap { case (v, w) => Seq.fill(w)(v) }

  /** Per-trigger figures from the engine's progress records. */
  private def progressLayer(ps: Seq[StreamingQueryProgress], tr: Trace, nproc: Int)
      : (Map[String, Double], String) = {
    val data = ps.filter(_.numInputRows > 0)
    val trig = data.map(dur(_, "triggerExecution"))
    val k = math.max(1, math.min(10, data.size / 3))
    val parts = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    val shares = parts.map(c => c -> data.map(dur(_, c)).sum / math.max(1.0, trig.sum))
    val (bottleneck, share) = shares.maxBy(_._2)
    val batches = data.map(p => (p.id.toString, p.batchId)).toSet
    val jobs = tr.jobsWhere(j => batches((j.streamId, j.batchId)))
    val state = ps.lastOption.toSeq.flatMap(_.stateOperators)
    val m = Map(
      "sources.latest_offset_ms" -> Stats.median(data.map(dur(_, "latestOffset"))),
      "sources.get_batch_ms" -> Stats.median(data.map(dur(_, "getBatch"))),
      "sources.rows_per_trigger" -> Stats.mean(data.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms" -> Stats.median(trig),
      "streaming.add_batch_ms" -> Stats.median(data.map(dur(_, "addBatch"))),
      "streaming.query_planning_ms" -> Stats.median(data.map(dur(_, "queryPlanning"))),
      "streaming.wal_commit_ms" -> Stats.median(data.map(dur(_, "walCommit"))),
      "streaming.jobs_per_trigger" -> jobs.size.toDouble / math.max(1, data.size),
      "streaming.stages_per_trigger" -> tr.stagesOf(jobs).size.toDouble / math.max(1, data.size),
      "streaming.trigger_tail_ratio" -> Stats.mean(trig.takeRight(k)) / Stats.mean(trig.take(k)),
      "streaming.bottleneck_share" -> share,
      "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_memory_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
      "streaming.state_commit_ms" -> Stats.median(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.rows_dropped_by_watermark" -> ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "streaming.sink_rows_in" -> ps.map(_.numInputRows).sum.toDouble) ++
      Layers.exec(tr, jobs, math.max(1, data.size), trig.sum, nproc)
    (m, bottleneck)
  }

  private def triggerSpans(tr: Trace, ps: Seq[StreamingQueryProgress]): Unit = ps.foreach { p =>
    val id = tr.newId()
    tr.parentSpan.put(s"${p.id}:${p.batchId}", id)
    val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
    tr.addSpan(Span(id, tr.rootSpan, s"trigger:${p.batchId}", start, endMs(p),
      Map("rows" -> p.numInputRows.toDouble)))
  }

  // ---------------------------------------------------------------- table sink

  /** SolaceBigQuery: an open loop publishes `ctx.rate` messages/s across
    * one queue per core; a seeded tenth of the ids is published a second
    * time, half in the same tick and half 1-10 ticks later. The stream
    * maps them with `mapToTextRecord` into `tableSink` on a fixed
    * ProcessingTime trigger. */
  def tableSink(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val queues = (0 until ctx.nproc).map(i => s"q$i")
    val perTick = math.max(1, (ctx.rate * TickMs / 1000.0).round.toInt)

    final case class Published(queue: String, endOrdinal: Long, scheduledMs: Double, firsts: Int)

    final class Stream(dir: String) {
      val broker = s"$dir/broker"
      val table = s"$dir/table"
      val published = new ArrayBuffer[Published]()
      val keys = scala.collection.mutable.HashSet.empty[(String, Long)]
      var copies = 0L
      private val spooled = scala.collection.mutable.Map(queues.map(_ -> 0L): _*)
      private var nextId = 0L
      private val rnd = new Random(ctx.seed * 7919 + dir.hashCode)
      // re-publications waiting for a later tick: tick -> (queue, msg)
      private val later = scala.collection.mutable.Map.empty[Long, ArrayBuffer[(String, GraftQueueBroker.Msg)]]
      val query: StreamingQuery = {
        new File(broker).mkdirs()
        Pipelines.tableSink(Pipelines.mapToTextRecord(Pipelines.readQueues(spark, broker, queues)), table)
          .trigger(Trigger.ProcessingTime(TriggerMs)).start()
      }

      /** Publish one tick: `perTick` fresh ids dealt round-robin over the
        * queues, plus the redeliveries due now. Returns the publish wall ms. */
      def tick(k: Long, scheduledMs: Double): Double = {
        val t0 = Stats.nowMs
        val dueNow = later.remove(k).toSeq.flatten
        val dealt = (0 until perTick).groupBy(j => queues(((k * perTick + j) % queues.size).toInt))
        queues.filter(q => dealt.contains(q) || dueNow.exists(_._1 == q)).foreach { q =>
          val fresh = dealt.getOrElse(q, Nil).map { _ =>
            nextId += 1
            GraftQueueBroker.textMsg(nextId, (scheduledMs * 1000).toLong, q, Gen.words(rnd, 6))
          }
          val again = fresh.filter(_ => rnd.nextDouble() < RedeliveredShare)
          val (sameTick, laterTick) = again.partition(_ => rnd.nextBoolean())
          laterTick.foreach(m => later.getOrElseUpdate(k + 1 + rnd.nextInt(10), ArrayBuffer.empty) += ((q, m)))
          val batch = fresh ++ sameTick ++ dueNow.filter(_._1 == q).map(_._2)
          GraftQueueBroker.publish(broker, q, batch)
          spooled(q) += batch.size
          copies += batch.size
          fresh.foreach(m => keys += ((q, m.messageId)))
          published += Published(q, spooled(q), scheduledMs, fresh.size)
        }
        Stats.nowMs - t0
      }

      /** Publish whatever redeliveries are still pending. */
      def flush(): Unit = later.keys.toSeq.sorted.foreach { k =>
        later.remove(k).toSeq.flatten.groupBy(_._1).foreach { case (q, ms) =>
          GraftQueueBroker.publish(broker, q, ms.map(_._2).toSeq)
          spooled(q) += ms.size
          copies += ms.size
        }
      }

      def target: Map[String, Long] = spooled.toMap
    }

    def setup(i: Int): Stream = {
      val s = new Stream(ctx.fresh(s"sink$i"))
      s.tick(0, System.currentTimeMillis().toDouble)
      s.flush()
      if (!awaitOffsets(s.query, s.target, 60000))
        throw new IllegalStateException("warm-up messages were not ingested within 60 s")
      s
    }

    /** One measured open-loop run on a set-up stream. */
    def measure(s: Stream, tr: Option[Trace]): (Map[String, Double], Map[String, Double], Map[String, Any]) = {
      val first = s.published.size
      val firstBatch = s.query.lastProgress.batchId
      val publishMs = ArrayBuffer.empty[Double]
      val lagMs = ArrayBuffer.empty[Double]
      val backlogs = ArrayBuffer.empty[Double]
      val t0 = System.currentTimeMillis().toDouble
      val ticks = math.max(1L, (ctx.seconds * 1000 / TickMs).toLong)
      val publisher = new Thread(() => {
        (1L to ticks).foreach { k =>
          val due = t0 + k * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait.toLong)
          val start = System.currentTimeMillis()
          lagMs += start - due
          val ms = s.tick(k, due)
          publishMs += ms
          tr.foreach(t => t.addSpan(Span(t.newId(), t.rootSpan, "publish", start, start + ms)))
          if (tr.isDefined) backlogs += backlog(s.broker, queues).toDouble
        }
        s.flush()
      }, "perfbench-publisher")
      publisher.start()
      publisher.join()
      if (!awaitOffsets(s.query, s.target, 120000))
        throw new IllegalStateException("published messages were not ingested within 120 s")
      val ps = s.query.recentProgress.toSeq.filter(_.batchId > firstBatch)
      s.query.stop()

      // ingest latency: scheduled publish -> end of the first trigger whose
      // committed end offset covers the message
      val byQueue = ps.map(p => (p, endOffsets(p))).sortBy(_._1.batchId)
      val lat = s.published.drop(first).map { pub =>
        val cover = byQueue.find(_._2.getOrElse(pub.queue, 0L) >= pub.endOrdinal)
          .getOrElse(throw new IllegalStateException(s"no trigger covers ${pub.queue}@${pub.endOrdinal}"))
        (endMs(cover._1) - pub.scheduledMs, pub.firsts)
      }
      val sample = expand(lat.toSeq)
      val data = ps.filter(_.numInputRows > 0)
      val busy = data.map(dur(_, "triggerExecution")).sum / 1000
      val e2e = Map(
        "latency_p50_ms" -> Stats.quantile(sample, 0.5),
        "latency_p99_ms" -> Stats.quantile(sample, 0.99),
        "total_s" -> busy,
        "query_geomean_ms" -> Stats.geomean(data.map(dur(_, "triggerExecution"))),
        "drain_rps" -> data.map(_.numInputRows).sum / busy)
      val (layer, info) = tr match {
        case None => (Map.empty[String, Double], Map.empty[String, Any])
        case Some(t) =>
          t.settle()
          triggerSpans(t, ps)
          val (m, bottleneck) = progressLayer(ps, t, ctx.nproc)
          (m ++ Map(
            "sources.spool_files" -> spoolFiles(s.broker).toDouble,
            "sources.backlog_max" -> (if (backlogs.isEmpty) 0.0 else backlogs.max),
            "sources.backlog_end" -> backlog(s.broker, queues).toDouble,
            "sources.publish_ms" -> Stats.median(publishMs.toSeq),
            "sources.gen_lag_ms" -> Stats.quantile(lagMs.toSeq, 0.99),
            "streaming.files_written" -> parquetFiles(new File(s.table, "data")).toDouble),
            Map("first_bottleneck" -> bottleneck))
      }
      (e2e, layer, info)
    }

    /** Table == distinct published keys: nothing lost, nothing twice. */
    def check(s: Stream): (Long, Long, Map[String, Double]) = {
      val rows = Pipelines.readTable(spark, s.table).select("queue", "message_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val got = rows.toSet
      val lost = (s.keys -- got).size
      val extra = (got -- s.keys).size
      val dup = rows.length - got.size
      if (lost + extra + dup > 0)
        ctx.fail("stream_table_sink table", s"lost $lost, duplicated $dup, unexpected $extra")
      (s.keys.size.toLong, (lost + extra + dup).toLong, Map(
        "streaming.sink_rows_written" -> rows.length.toDouble,
        "streaming.sink_useful_ratio" -> rows.length.toDouble / s.copies,
        "published_distinct_share" -> s.keys.size.toDouble / s.copies))
    }

    val setupMs = ArrayBuffer.empty[Double]
    var stream: Stream = null
    (1 to 3).foreach { i =>
      if (stream != null) stream.query.stop()
      val (s, ms) = Stats.timedMs(setup(i))
      stream = s
      setupMs += ms
    }
    val (e2e0, _, _) = measure(stream, None)
    val (attempted, failed, sinkInfo) = check(stream)
    val e2e = e2e0 + ("setup_s" -> Stats.median(setupMs.toSeq) / 1000)
    if (!ctx.trace)
      Outcome(e2e, Map.empty, attempted, failed, Map("setup_ms" -> setupMs.toSeq) ++ sinkInfo)
    else {
      val tr = new Trace(spark)
      tr.install()
      val s = setup(4)
      val (e2eT, layer, info) = measure(s, Some(tr))
      val (a2, f2, sink2) = check(s)
      tr.uninstall()
      val spans = tr.writeSpans(ctx.opts("out") + ".spans.json", ctx.opts("out"))
      Outcome(e2e, layer ++ sink2 ++ Map(
        "trace.overhead_share" -> (e2eT("latency_p50_ms") / e2e("latency_p50_ms") - 1)),
        attempted + a2, failed + f2,
        info ++ sinkInfo ++ Map("setup_ms" -> setupMs.toSeq, "spans" -> spans,
          "traced_e2e" -> e2eT))
    }
  }

  // ---------------------------------------------------------------- word count

  /** WindowedWordCountSolace: a seeded backlog of documents, sender
    * timestamps over 30 one-minute windows with jitter inside the
    * watermark, drained under AvailableNow with maxRecordsPerTrigger
    * through `windowedWordCount` into `fileSinkPerWindow`. Queue k holds
    * the k-th slice of event time: the source admits queues in name
    * order under a row budget, so interleaving event times across queues
    * would push the watermark past rows of queues not yet read. */
  val Docs = 2400
  val WarmDocs = 200
  /** The first set-up runs cold; with three, the medians skip it. */
  val MinDrains = 3
  val Windows = 30
  val TriggerRows = 300L

  def wordcount(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val queues = (0 until ctx.nproc).map(i => s"q$i")
    val base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000

    val publishCallMs = ArrayBuffer.empty[Double]

    def drain(dir: String): (Seq[StreamingQueryProgress], Double, Double) = {
      val counts = Pipelines.windowedWordCount(
        Pipelines.readQueues(spark, s"$dir/broker", queues, Some(TriggerRows)))
      val start = System.currentTimeMillis().toDouble
      val q = Pipelines.fileSinkPerWindow(counts, s"$dir/out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = System.currentTimeMillis() - start
      q.exception.foreach(e => throw e)
      (q.recentProgress.toSeq, start, wall)
    }

    /** Fresh dirs, the seeded backlog, and a first AvailableNow run over
      * its earliest [[WarmDocs]] messages, which creates the checkpoint
      * and output the measured drain then resumes from. */
    def setup(i: Int): (String, Double) = {
      val (dir, ms) = Stats.timedMs {
        val dir = ctx.fresh(s"wc$i")
        val rnd = new Random(ctx.seed)
        val texts = Gen.docTexts(rnd, Docs)
        val span = Windows * 60L * 1000000L
        val msgs = texts.zipWithIndex.map { case (t, i) =>
          val jitter = ((rnd.nextDouble() * 2 - 1) * 50 * 1000000L).toLong
          val ts = math.max(0L, base + span * i / Docs + jitter)
          GraftQueueBroker.textMsg(i.toLong, ts, "docs", t)
        }
        val perQueue = (Docs + queues.size - 1) / queues.size
        val slices = msgs.grouped(perQueue).toSeq.zip(queues)
        def publish(q: String, ms: Seq[GraftQueueBroker.Msg]): Unit =
          ms.grouped(500).foreach { chunk =>
            publishCallMs += Stats.timedMs(GraftQueueBroker.publish(s"$dir/broker", q, chunk))._2
          }
        val (warm, rest) = slices.head._1.splitAt(WarmDocs)
        publish(slices.head._2, warm)
        drain(dir)
        publish(slices.head._2, rest)
        slices.tail.foreach { case (ms, q) => publish(q, ms) }
        dir
      }
      (dir, ms)
    }

    /** Files == batch word count over the same queues, on every window
      * the final watermark closed. */
    def check(dir: String, ps: Seq[StreamingQueryProgress]): (Long, Long, Map[String, Double]) = {
      val wm = ps.reverse.flatMap(p => Option(p.eventTime.get("watermark"))).headOption
        .map(w => java.sql.Timestamp.from(Instant.parse(w)))
        .getOrElse(throw new IllegalStateException("no watermark in progress"))
      val got = spark.read.parquet(s"$dir/out").select("ws", "word", "cnt")
      val want = Pipelines.windowedWordCount(
          Pipelines.readQueuesBounded(spark, s"$dir/broker", queues))
        .filter(col("ws") + expr("INTERVAL 1 MINUTE") <= lit(wm))
      val nGot = got.count()
      val nWant = want.count()
      val missing = want.exceptAll(got).count()
      val extra = got.exceptAll(want).count()
      if (missing + extra > 0 || nWant == 0)
        ctx.fail("stream_wordcount files", s"$missing rows missing, $extra unexpected of $nWant")
      (math.max(1L, nWant), missing + extra + (if (nWant == 0) 1 else 0), Map(
        "streaming.sink_rows_written" -> nGot.toDouble,
        "streaming.files_written" -> parquetFiles(new File(s"$dir/out")).toDouble))
    }

    def run(tr: Option[Trace])
        : (Map[String, Double], Seq[Double], Seq[Double], Seq[StreamingQueryProgress], String) = {
      val setups = ArrayBuffer.empty[Double]
      val walls = ArrayBuffer.empty[Double]
      // per drain: latency p50, p99, trigger geomean (medians over drains
      // keep the cold first drain out of the figures)
      val p50, p99, trig = ArrayBuffer.empty[Double]
      var last = ("", Seq.empty[StreamingQueryProgress])
      val t0 = Stats.nowMs
      while (walls.size < MinDrains || Stats.nowMs - t0 < ctx.seconds * 1000) {
        val (dir, sms) = setup(setups.size + 1)
        setups += sms
        val (ps, start, wall) = drain(dir)
        walls += wall
        tr.foreach(triggerSpans(_, ps))
        // each message: drain start -> end of the trigger covering its offset
        val lat = ArrayBuffer.empty[Double]
        var prev = WarmDocs.toLong
        ps.sortBy(_.batchId).foreach { p =>
          val n = endOffsets(p).values.sum
          if (n > prev) { lat ++= Seq.fill((n - prev).toInt)(endMs(p) - start); prev = n }
        }
        p50 += Stats.quantile(lat.toSeq, 0.5)
        p99 += Stats.quantile(lat.toSeq, 0.99)
        trig += Stats.geomean(ps.filter(_.numInputRows > 0).map(dur(_, "triggerExecution")))
        last = (dir, ps)
      }
      val e2e = Map(
        "total_s" -> Stats.median(walls.toSeq) / 1000,
        "drain_rps" -> (Docs - WarmDocs) / (Stats.median(walls.toSeq) / 1000),
        "query_geomean_ms" -> Stats.median(trig.toSeq),
        "latency_p50_ms" -> Stats.median(p50.toSeq),
        "latency_p99_ms" -> Stats.median(p99.toSeq),
        "setup_s" -> Stats.median(setups.toSeq) / 1000)
      (e2e, setups.toSeq, walls.toSeq, last._2, last._1)
    }

    val (e2e, setups, walls, ps, dir) = run(None)
    val (attempted, failed, sinkInfo) = check(dir, ps)
    if (!ctx.trace)
      Outcome(e2e, Map.empty, attempted, failed, Map("setup_ms" -> setups, "drain_ms" -> walls) ++ sinkInfo)
    else {
      val tr = new Trace(spark)
      tr.install()
      publishCallMs.clear()
      val (e2eT, _, _, psT, dirT) = run(Some(tr))
      tr.settle()
      val (a2, f2, sink2) = check(dirT, psT)
      tr.uninstall()
      val (m, bottleneck) = progressLayer(psT, tr, ctx.nproc)
      val spans = tr.writeSpans(ctx.opts("out") + ".spans.json", ctx.opts("out"))
      val layer = m ++ sink2 ++ Map(
        "sources.spool_files" -> spoolFiles(s"$dirT/broker").toDouble,
        "sources.backlog_max" -> Docs.toDouble,
        "sources.backlog_end" -> backlog(s"$dirT/broker", queues).toDouble,
        "sources.publish_ms" -> Stats.median(publishCallMs.toSeq),
        "streaming.sink_useful_ratio" -> sink2("streaming.sink_rows_written") / m("streaming.sink_rows_in"),
        "trace.overhead_share" -> (e2eT("total_s") / e2e("total_s") - 1))
      Outcome(e2e, layer, attempted + a2, failed + f2,
        Map("setup_ms" -> setups, "drain_ms" -> walls, "first_bottleneck" -> bottleneck, "spans" -> spans,
          "traced_e2e" -> e2eT) ++ sinkInfo)
    }
  }
}
