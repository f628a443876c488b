package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: the end-to-end metrics (tracing
  * off), the per-layer metrics (traced run), how many outputs were
  * checked and how many were wrong, and anything worth keeping in the
  * run artifact. `oracle` lists (query, result dir, DuckDB SQL) for the
  * checks the Python wrapper makes after the JVM exits. */
final case class Outcome(
    e2e: Map[String, Double],
    layer: Map[String, Double],
    attempted: Long,
    failed: Long,
    info: Map[String, Any],
    oracle: Seq[(String, String, String)] = Nil)

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val opts: Map[String, String]) {
  val work: String = opts("work")
  val seed: Long = opts("seed").toLong
  val seconds: Double = opts("seconds").toDouble
  val trace: Boolean = opts("trace") == "1"
  val rate: Int = opts("rate").toInt
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val failures = new ArrayBuffer[Map[String, Any]]()
  private var dirs = 0

  def fail(what: String, e: Throwable): Unit = synchronized {
    failures += Map("what" -> what, "class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(500))
    System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getName}: ${e.getMessage}")
  }

  def fail(what: String, message: String): Unit = synchronized {
    failures += Map("what" -> what, "class" -> "check", "message" -> message.take(500))
    System.err.println(s"[perfbench] WRONG $what: $message")
  }

  /** A fresh directory for one set-up; every cache an operator keeps in
    * the temp dir (IVF indexes, pipeline shards) lands inside it, so no
    * earlier run — or earlier build — can serve this one. */
  def fresh(tag: String): String = {
    dirs += 1
    val d = new File(work, s"$tag-$dirs").getAbsolutePath
    new File(d, "tmp").mkdirs()
    System.setProperty("java.io.tmpdir", s"$d/tmp")
    d
  }
}

object Stats {
  def nowMs: Double = System.nanoTime() / 1e6

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = nowMs
    val r = body
    (r, nowMs - t0)
  }

  /** Linear-interpolated quantile (q in [0,1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.filter(!_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double = {
    val p = xs.filter(x => !x.isNaN && x > 0)
    if (p.isEmpty) Double.NaN else math.exp(p.map(math.log).sum / p.size)
  }

  /** Least-squares slope and intercept of y on x. */
  def fit(xs: Seq[Double], ys: Seq[Double]): (Double, Double) = {
    val mx = mean(xs); val my = mean(ys)
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val slope = if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    (slope, my - slope * mx)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** Benchmark entry point. One workload per JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --rate <msgs/s> --work <dir> --out <file.json>
  *                --schemas <expected_schemas.json> [--rev <stamp>]
  * }}}
  *
  * Writes one JSON document to `--out` (a traced run also writes its
  * span tree to `<out>.spans.json`); `perfbench/run.py` builds the
  * classes, runs this, adds the DuckDB checks and prints the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val nproc = Runtime.getRuntime.availableProcessors()
    val stealStart = graft.HostStat.readStealTicks()
    val wall0 = Stats.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", args("work") + "/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args)

    val outcome =
      try workload match {
        case "batch_relational" => Batch.relational(ctx)
        case "stream_table_sink" => Streams.tableSink(ctx)
        case "stream_wordcount" => Streams.wordcount(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } catch {
        case e: Throwable =>
          ctx.fail(s"workload $workload", e)
          Outcome(Map.empty, Map.empty, 1, 1, Map.empty)
      }

    val wallS = (Stats.nowMs - wall0) / 1000
    val steal = for (a <- stealStart; b <- graft.HostStat.readStealTicks()) yield b - a
    // /proc/stat counts steal in USER_HZ (100/s) per CPU
    val stealShare = steal.map(_ / (wallS * 100.0 * nproc)).getOrElse(0.0)
    val stamp = Map(
      "nproc" -> nproc,
      "steal_ticks" -> steal,
      "steal_share" -> stealShare,
      "steal_flag" -> (stealShare > 0.1),
      "rev" -> args.getOrElse("rev", "unknown"),
      "seed" -> ctx.seed,
      "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "wall_s" -> wallS)
    val doc = Map(
      "workload" -> workload,
      "trace" -> ctx.trace,
      "attempted" -> math.max(1L, outcome.attempted),
      "failed" -> outcome.failed,
      "e2e" -> outcome.e2e,
      "layer" -> (if (ctx.trace) Layers.complete(outcome.layer) else Map.empty),
      "failures" -> ctx.failures.toSeq,
      "stamp" -> stamp,
      "info" -> outcome.info,
      "oracle" -> outcome.oracle.map { case (q, dir, sql) =>
        Map("query" -> q, "result" -> dir, "sql" -> sql) })
    Files.write(Paths.get(args("out")), Json(doc).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
