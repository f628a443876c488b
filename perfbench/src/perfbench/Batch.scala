package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** The batch workload:
  *
  *  1. set-up, three times, each in a fresh directory with inputs
  *     generated from the seed; the last set-up is the one measured;
  *  2. warm-up passes. The first writes every result to parquet —
  *     these are the outputs checked (schema, non-empty, and DuckDB for
  *     queries with oracle SQL);
  *  3. measured passes over the query list until `--seconds` have
  *     passed, each query timed as a `noop` write of its full result.
  *
  * With tracing on, the measured passes run twice: untraced (the
  * end-to-end baseline for the overhead figure), then traced.
  */
object Batch {

  /** Stage-bound set, query -> module: one query from each relational
    * module plus the event and temporal-join surface, chosen for plan
    * shape (joins, set operations, windows, sessions, interval joins)
    * so that several passes fit one run. */
  val Queries: Seq[(String, String)] = Seq(
    "q3_join" -> "Relational",
    "q7_volume" -> "Relational",       // Relational2
    "q8_mktshare" -> "Relational",     // Relational3
    "q_setops" -> "Relational",        // Relational4
    "q2_argmin" -> "Relational",       // Relational5
    "session_window" -> "EventOps",
    "q_funnel" -> "EventOps",
    "q_interval_join" -> "TemporalJoins")

  /** Untimed passes before the measured ones. Measured on 4 cores, the
    * third and fourth executions of each query were still 10-25% slower
    * than later ones (the JIT is still compiling the planner). */
  val WarmupPasses = 3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def relational(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val queries = Queries.map(_._1)
    val expected = Schemas.load(ctx.opts("schemas"))

    // 1. set-up, three times
    var dir = ""
    val setupMs = (1 to 3).map { i =>
      Stats.timedMs {
        dir = ctx.fresh(s"setup$i")
        Gen.tpch(spark, s"$dir/data", ctx.seed)
      }._2
    }
    val data = s"$dir/data"

    // 2. warm-up passes; the first one's outputs are checked
    val warm0 = Stats.nowMs
    var attempted = 0L
    var failed = 0L
    val oracle = ArrayBuffer.empty[(String, String, String)]
    val schemas = scala.collection.mutable.Map.empty[String, String]
    queries.foreach { q =>
      attempted += 1
      val out = s"$dir/results/$q"
      try {
        val df = fns(q)(spark, data)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        val schema = df.schema.catalogString
        schemas(q) = schema
        if (!expected.get(q).contains(schema)) {
          failed += 1; ctx.fail(q, s"schema $schema, expected ${expected.getOrElse(q, "none")}")
        } else if (spark.read.parquet(out).isEmpty) {
          failed += 1; ctx.fail(q, "empty result")
        } else SparkEntry.oracleSql.get(q).foreach(sql => oracle += ((q, out, sql)))
      } catch { case e: Throwable => failed += 1; ctx.fail(s"$q (warm-up)", e) }
    }
    for (pass <- 2 to WarmupPasses; q <- queries) {
      attempted += 1
      try noop(fns(q)(spark, data))
      catch { case e: Throwable => failed += 1; ctx.fail(s"$q (warm-up $pass)", e) }
    }
    val warmMs = Stats.nowMs - warm0

    // 3. measured passes
    def passes(tag: String, tr: Option[Trace]): Seq[Map[String, Double]] = {
      val out = ArrayBuffer.empty[Map[String, Double]]
      val t0 = Stats.nowMs
      while (out.isEmpty || Stats.nowMs - t0 < ctx.seconds * 1000) {
        val passId = tr.map(_.newId()).getOrElse(0L)
        val p0 = System.currentTimeMillis()
        out += queries.map { q =>
          val group = s"$tag${out.size}|$q"
          sc.setJobGroup(group, q, interruptOnCancel = false)
          val qSpan = tr.map(_.newId()).getOrElse(0L)
          tr.foreach(_.parentSpan.put(group, qSpan))
          attempted += 1
          val s0 = System.currentTimeMillis()
          val ms =
            try Stats.timedMs {
              val df = fns(q)(spark, data)
              tr.foreach(_.expect(df, group))
              noop(df)
            }._2
            catch { case e: Throwable => failed += 1; ctx.fail(s"$q ($tag)", e); Double.NaN }
          tr.foreach(_.addSpan(Span(qSpan, passId, s"query:$q", s0, System.currentTimeMillis())))
          sc.clearJobGroup()
          q -> ms
        }.toMap
        tr.foreach(t => t.addSpan(Span(passId, t.rootSpan, s"pass:${out.size - 1}", p0,
          System.currentTimeMillis())))
      }
      out.toSeq
    }

    val plain = passes("p", None)
    val e2e = summary(plain) + ("setup_s" -> Stats.median(setupMs) / 1000)

    val (layer, info) =
      if (!ctx.trace) (Map.empty[String, Double], Map.empty[String, Any])
      else {
        val tr = new Trace(spark)
        tr.install()
        val traced = passes("t", Some(tr))
        tr.uninstall()
        traceLayer(ctx, tr, traced, e2e)
      }
    Outcome(e2e, layer, attempted, failed,
      info ++ Map("queries" -> queries, "data_dir" -> data, "schemas" -> schemas,
        "setup_ms" -> setupMs, "warmup_ms" -> warmMs,
        "pass_ms" -> plain.map(_.values.filter(!_.isNaN).sum),
        "query_ms" -> queries.map(q => q -> Stats.median(plain.map(_(q)))).toMap),
      oracle.toSeq)
  }

  /** End-to-end figures over a list of passes (query -> ms). */
  def summary(passes: Seq[Map[String, Double]]): Map[String, Double] = {
    val perQuery = passes.head.keys.toSeq.map(q => Stats.median(passes.map(_(q))))
    val total = perQuery.filter(!_.isNaN).sum / 1000
    Map(
      "total_s" -> total,
      "query_geomean_ms" -> Stats.geomean(perQuery),
      "latency_p50_ms" -> Stats.quantile(perQuery, 0.5),
      "latency_p99_ms" -> Stats.quantile(perQuery, 0.99),
      "drain_rps" -> perQuery.size / total)
  }

  private def traceLayer(ctx: Ctx, tr: Trace, traced: Seq[Map[String, Double]],
                         plain: Map[String, Double]): (Map[String, Double], Map[String, Any]) = {
    val n = traced.size.toDouble
    val jobs = tr.jobsWhere(_.group.startsWith("t"))
    def ofQuery(q: String) = jobs.filter(_.group.endsWith("|" + q))
    def wallMs(q: String) = Stats.median(traced.map(_(q)))
    val layer = Layers.exec(tr, jobs, n, traced.map(_.values.filter(!_.isNaN).sum).sum, ctx.nproc)

    // per-query wall against runtime exchanges: the stage-latency model
    val points = Queries.map { case (q, _) =>
      (q, tr.execsOf(ofQuery(q)).map(_.runtimeExchanges).sum / n, wallMs(q))
    }
    val (slope, intercept) = Stats.fit(points.map(_._2), points.map(_._3))

    val modules = Queries.groupBy(_._2).flatMap { case (m, qs) =>
      Map(s"operators.$m.wall_s" -> qs.map(q => wallMs(q._1)).sum / 1000,
        s"operators.$m.cpu_ms" -> tr.stagesOf(qs.flatMap(q => ofQuery(q._1))).map(_.cpuNs).sum / 1e6 / n)
    }

    val spans = tr.writeSpans(ctx.opts("out") + ".spans.json", ctx.opts("out"))
    (layer ++ modules ++ Map(
      "exec.ms_per_exchange" -> slope,
      "trace.overhead_share" -> (summary(traced)("total_s") / plain("total_s") - 1)),
      Map("exchange_fit" -> Map("ms_per_exchange" -> slope, "intercept_ms" -> intercept,
        "points" -> points.map { case (q, ex, ms) => Map("query" -> q, "runtime_exchanges" -> ex, "ms" -> ms) }),
        "codegen_fallbacks" -> tr.fallbacks.toArray.toSeq,
        "spans" -> spans))
  }
}
