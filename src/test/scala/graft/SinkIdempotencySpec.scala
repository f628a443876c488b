package graft

import java.nio.file.Files

import graft.sources.GraftQueueBroker
import graft.streaming.Pipelines
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Property: the keyed table sink is exactly-once under any schedule of
  * publishes, redeliveries and restarts. A redelivery is a re-publish
  * of an already-spooled id (in the same trigger or a later one); a
  * restart either resumes the checkpoint or starts from a fresh one,
  * which replays the whole spool. After every run the table must hold
  * each published (queue, message_id) key exactly once.
  */
class SinkIdempotencySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private sealed trait Step
  private final case class Publish(queue: String, ids: List[Long]) extends Step
  private final case class Run(freshCheckpoint: Boolean, maxPerTrigger: Option[Long])
      extends Step

  private val queues = Seq("q1", "q2")

  // a small id universe, so most schedules redeliver
  private val publish: Gen[Step] = for {
    q <- Gen.oneOf(queues)
    n <- Gen.choose(1, 8)
    ids <- Gen.listOfN(n, Gen.choose(0L, 24L))
  } yield Publish(q, ids)

  private val run: Gen[Step] = for {
    fresh <- Gen.oneOf(true, false)
    cap <- Gen.oneOf(None, Some(5L))
  } yield Run(fresh, cap)

  // one to three rounds of publishes, each round ending in a run
  private val schedule: Gen[List[Step]] = for {
    rounds <- Gen.choose(1, 3)
    steps <- Gen.listOfN(rounds,
      Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, publish)).flatMap(ps => run.map(ps :+ _)))
  } yield steps.flatten

  private def replay(steps: List[Step]): Unit = {
    val broker = tmpDir("graft-prop-broker")
    val table = tmpDir("graft-prop-table")
    var checkpoint = tmpDir("graft-prop-ckpt")
    val published = scala.collection.mutable.Set.empty[(String, Long)]
    steps.foreach {
      case Publish(q, ids) =>
        GraftQueueBroker.publish(broker, q, ids.map { i =>
          GraftQueueBroker.textMsg(i, 1700000000000000L + i * 1000000L, s"t/$q", s"m$i")
        })
        published ++= ids.map(q -> _)
      case Run(fresh, cap) =>
        if (fresh) checkpoint = tmpDir("graft-prop-ckpt")
        val records = Pipelines.mapToTextRecord(
          Pipelines.readQueues(spark, broker, queues, maxRecordsPerTrigger = cap))
        val q = Pipelines.tableSink(records, table)
          .option("checkpointLocation", checkpoint).start()
        try q.processAllAvailable() finally q.stop()
        val keys = Pipelines.readTable(spark, table).select("queue", "message_id")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        assert(keys.size === keys.distinct.size, s"duplicate keys in the table: $keys")
        assert(keys.toSet === published.toSet)
    }
  }

  test("table sink is exactly-once under random publish, redelivery and restart schedules") {
    // a fixed seed keeps the run reproducible; each case starts a few
    // streaming queries, so the case count stays small
    val params = Test.Parameters.default
      .withMinSuccessfulTests(8)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val result = Test.check(params, Prop.forAllNoShrink(schedule) { steps =>
      replay(steps)
      Prop.passed
    })
    assert(result.passed, Pretty.pretty(Pretty.prettyTestRes(result), Pretty.Params(2)))
  }
}
