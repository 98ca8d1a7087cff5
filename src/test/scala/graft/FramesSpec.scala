package graft

import org.apache.spark.sql.functions._
import graft.exec.Frames

/** Loop-frame ownership: every frame a scope materializes is released on
  * every exit path, an exception thrown mid-loop included, while results
  * stay caller-owned. The loops' own non-convergence paths are checked in
  * GraphSpec and FunctionsSpec. */
class FramesSpec extends SparkSpec {
  test("a Frames body that throws mid-loop releases every frame it made") {
    val ex = interceptNoLeak[IllegalStateException] {
      Frames { f =>
        var cur = f.lazily(spark.range(100).toDF("v"))
        (1 to 5).foreach { i =>
          val next = f.persist(cur.select((col("v") + 1).as("v")))
          next.count()
          if (i == 3) throw new IllegalStateException("round 3 failed")
          cur = f.eagerly(next)
        }
      }
    }
    assert(ex.getMessage == "round 3 failed")
  }

  test("release is root-only; result and keep hand frames to the caller") {
    def held(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          spark.sparkContext.getPersistentRDDs.contains(lr.rdd.id)
        case other => fail(s"not a checkpointed frame: $other")
      }
    val (kept, res) = Frames { f =>
      val base = f.lazily(spark.range(50).toDF("v"))
      val top = f.lazily(base.select((col("v") * 2).as("v")))
      assert(top.count() == 50)
      // releasing `top` must not drop `base`, the frame its plan reads
      f.release(top)
      assert(!held(top) && held(base))
      assert(base.agg(sum(col("v"))).head.getLong(0) == 1225L)
      f.release(top) // already released: a no-op
      (f.keep(base), f.result(base.filter(col("v") < 5)))
    }
    assert(held(kept) && held(res), "keep and result frames survive")
    assert(kept.count() == 50 && res.count() == 5)
  }

  test("a frame is released the way it was materialized: persisting a " +
       "caller's checkpoint drops only the cache entry") {
    val ck = spark.range(20).toDF("v").localCheckpoint(true)
    Frames { f =>
      val cached = f.persist(ck)
      assert(cached.storageLevel.useMemory && cached.count() == 20)
    }
    assert(ck.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(ck.count() == 20, "the caller's checkpoint blocks survive")
  }
}
