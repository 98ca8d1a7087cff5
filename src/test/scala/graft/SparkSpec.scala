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
}
