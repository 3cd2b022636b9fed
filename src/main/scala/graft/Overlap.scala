package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** Runs independent Spark subtrees from a small thread pool so one
  * branch's jobs back-fill the others' driver round-trips. Results come
  * back in branch order, so a caller that unions them keeps its
  * deterministic output.
  *
  * Failures are loud and leave nothing behind: every branch's jobs carry
  * one job tag per call; the first branch to throw cancels the tag's
  * running jobs (and any job a sibling submits after that, until the
  * sibling exits), and its exception reaches the caller only once every
  * pool thread has exited. The pool is shut down on every path. */
object Overlap {
  private val calls = new AtomicInteger

  def apply[T](spark: SparkSession)(branches: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${calls.incrementAndGet()}"
    val threads = new AtomicInteger
    val pool = Executors.newFixedThreadPool(branches.size, (r: Runnable) => {
      val t = new Thread(r, s"$tag-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    val results = new Array[Any](branches.size)
    val finished = new ExecutorCompletionService[Unit](pool)
    try {
      branches.zipWithIndex.foreach { case (branch, i) =>
        finished.submit(() => { sc.addJobTag(tag); results(i) = branch() })
      }
      branches.foreach(_ => finished.take().get())
      results.toSeq.asInstanceOf[Seq[T]]
    } catch {
      case e: ExecutionException =>
        sc.cancelJobsWithTag(tag)
        throw e.getCause
    } finally {
      pool.shutdown()
      while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
        sc.cancelJobsWithTag(tag)
    }
  }
}
