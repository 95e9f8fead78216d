package graft

import org.apache.spark.sql.Dataset
import scala.collection.mutable.ArrayBuffer

/** Tracks every Dataset a query definition persists so long-lived
  * sessions can release them deterministically. The persists exist for
  * plan-node reuse WITHIN one execution (q35/q36's shingle tables feed
  * self-joins, q62's test grams feed the bloom build and the verify
  * join); across executions they would only accumulate — one cached RDD
  * per (query, sf dir) — so every driver loop (Verify, Bench)
  * calls [[releaseAll]] after each query's terminal action, and library
  * users get the same hook. */
object CacheRegistry {
  private val tracked = ArrayBuffer[() => Unit]()

  /** Register a just-persisted Dataset; returns it for chaining. */
  def track[T](ds: Dataset[T]): Dataset[T] = synchronized {
    tracked += (() => ds.unpersist())
    ds
  }

  /** Register a `localCheckpoint`'d Dataset. Its storage is NOT freed by
    * `Dataset.unpersist` — the MEMORY_AND_DISK blocks belong to the
    * internal checkpoint RDD (the Dataset's plan is a `LogicalRDD` leaf
    * over it), and without an explicit release they linger until a JVM
    * GC happens to reach the ContextCleaner — so capture that RDD and
    * unpersist it directly. Lazy checkpoints that never materialized
    * release as a no-op. */
  def trackCheckpoint[T](ds: Dataset[T]): Dataset[T] = synchronized {
    tracked += { () =>
      ds.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
    ds
  }

  /** Register a plain callback to run at the next [[releaseAll]] —
    * for invalidating caches that hold references to tracked Datasets
    * (e.g. the shared posting-index memo), so nothing hands out a
    * silently-unpersisted plan after release. */
  def onRelease(cb: () => Unit): Unit = synchronized { tracked += cb }

  /** Release everything tracked (blocking=false; safe on dead sessions).
    * The callbacks run OUTSIDE this object's monitor: holding it while a
    * callback re-enters another lock (e.g. a memo object that also calls
    * [[track]] under its own monitor) would be an ABBA deadlock. */
  def releaseAll(): Unit = {
    val snapshot = synchronized {
      val s = tracked.toList
      tracked.clear()
      s
    }
    snapshot.foreach { release =>
      try release()
      catch { case _: Throwable => () }
    }
  }
}
