package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession reused by every suite
  * (getOrCreate in the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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
