package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.SparkSession

class ParSpec extends SparkSpec {

  test("a submitted body sees the submitter's job group and session, not its pool thread's") {
    val sc = spark.sparkContext
    val release = new CountDownLatch(1)
    // occupy every pool thread (creating any that do not exist yet under
    // another group), so the next body runs on a thread made earlier
    sc.setJobGroup("pool-creator", "pool-creator")
    val busy = try (1 to 4).map(_ => Par.submit(release.await()))
    finally sc.clearJobGroup()

    val other = spark.newSession()
    sc.setJobGroup("submitter", "submitter")
    SparkSession.setActiveSession(other)
    val seen = try Par.submit((sc.getLocalProperty("spark.jobGroup.id"), SparkSession.getActiveSession))
    finally { sc.clearJobGroup(); SparkSession.setActiveSession(spark) }
    release.countDown()
    busy.foreach(Par.await)
    val (group, session) = Par.await(seen)
    assert(group === "submitter")
    assert(session.exists(_ eq other))
  }

  test("await rethrows the body's own failure") {
    val e = intercept[IllegalStateException](
      Par.await(Par.submit[Int](throw new IllegalStateException("boom"))))
    assert(e.getMessage === "boom")
  }
}
