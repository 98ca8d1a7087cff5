package graft.exec

import org.apache.spark.sql.SparkSession

/** The one place session conf is set, for the one toggle with no
  * plan-level form: a stream's shuffle-partition count, fixed at stream
  * start. Its only caller is the `graft.streaming.StreamOps` runner that
  * every stream runs through. Join strategy and partitioning live in the
  * plan instead (`PlanBridge.mergeJoins`, `Frames.partitioned`), and plan
  * shapes are declared as `PlanContract`s, not forced by conf.
  *
  * The setting is session-global while `body` runs: a query planned
  * concurrently on the same session sees it too. `key` must be a
  * registered SQL conf; its previous value is restored on every exit
  * path. */
object SessionConf {
  def scoped[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.get(key)
    try {
      s.conf.set(key, value)
      body
    } finally s.conf.set(key, prev)
  }
}
