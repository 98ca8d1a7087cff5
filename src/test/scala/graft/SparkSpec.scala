package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession reused by every suite,
  * built by the engine's own `Sessions.local` (getOrCreate in the forked
  * test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4", Sessions.NanosAsLong)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** RDDs the SparkContext holds persisted — persisted and checkpointed
    * frames both register here until released. */
  def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** `intercept[E](body)` that also asserts the failed call left no more
    * persistent RDDs behind than it found. */
  def interceptNoLeak[E <: Throwable](body: => Any)(
      implicit ct: scala.reflect.ClassTag[E]): E = {
    val before = persistentRdds
    val ex = intercept[E](body)
    assert(persistentRdds <= before,
      s"$persistentRdds persistent RDDs after the failure, $before before")
    ex
  }

  /** The number of jobs Spark ran while `body` ran, counted through a job
    * group. A later job in a second group is waited for, so every job of
    * the first group has reached the status store (the listener bus
    * delivers in order). */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, fence) = (s"jobs-${System.nanoTime}", s"fence-${System.nanoTime}")
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(fence, "fence")
      spark.range(1).collect()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.nanoTime < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
