package graft.queries

import graft.GraftSession
import graft.sources.topic.TopicLog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared stream-gate machinery: a topic is produced once per
  * (kind, sf dir), and a failed fold strands no checkpoint blocks. */
class StreamGateSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("4")
  // only a memo key here: the spec topics are produced from spark.range
  val dir = "spec-sf-dir"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("topicFor produces once per (kind, dir)") {
    var produced = 0
    def rows = {
      produced += 1
      spark.range(10).select(col("id").cast("string").as("key"),
        col("id").cast("string").as("value"), current_timestamp().as("timestamp"))
    }
    val topic = StreamGate.topicFor("spec", dir)(rows)
    val ends = TopicLog.endOffsets(topic)
    assert(ends.values.sum == 10)
    assert(StreamGate.topicFor("spec", dir)(rows) == topic)
    assert(TopicLog.endOffsets(topic) == ends)
    assert(produced == 1)
    assert(StreamGate.topicFor("spec", s"$dir/other")(rows) != topic)
    assert(produced == 2)
  }

  test("a Fold whose fold function throws leaves no persisted RDDs behind") {
    val df = spark.range(100).toDF("id")
    val before = persistedIds
    val f = new StreamGate.Fold
    val e = intercept[IllegalStateException] {
      StreamGate.Fold.guard(f) {
        f.update(df)(identity)
        val first = persistedIds.diff(before)
        f.update(df)(_.union(df))
        val second = persistedIds.diff(before)
        // one state copy is live between batches
        assert(first.nonEmpty && second.nonEmpty && first.intersect(second).isEmpty)
        assert(f.state.count() == 200)
        f.update(df)(_ => throw new IllegalStateException("fold failed"))
      }
    }
    assert(e.getMessage == "fold failed")
    assert(persistedIds.diff(before).isEmpty,
      s"leaked persistent RDDs: ${persistedIds.diff(before)}")
  }
}
