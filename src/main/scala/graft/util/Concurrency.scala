package graft.util

/** The one shared driver-side fan-out helper: run independent Spark jobs
  * concurrently (Spark schedules concurrent jobs fine; each job shuffles
  * to executors on its own). Latency of k small jobs drops from sum to
  * ~max. Used by describe's per-column group jobs, inference's per-column
  * stats and NaturalLanguage passes, and dependence's per-pair
  * contingencies.
  */
object Concurrency {
  private val JobGroupKey = "spark.jobGroup.id"

  /** Runs `work` over `items` on up to 8 threads and rethrows the first
    * failure. Every unit runs under ONE job group so the error path can
    * cancel the Spark jobs still running (Future.sequence rethrows the
    * first failure while the pool's graceful shutdown() would let orphaned
    * jobs burn executors to completion). The group is the caller's
    * `spark.jobGroup.id` when one is set — so a fan-out nested inside
    * another fan-out's unit tags its jobs with the outer group, and the
    * outer cancel reaches those grandchild jobs too — and a fresh group
    * only at the outermost call. Cancelling a caller's group also cancels
    * that group's other running jobs; a minted group is cancelled together
    * with any job its units still launch afterwards.
    */
  def runConcurrently[A](items: Seq[A])(work: A => Unit): Unit = {
    if (items.isEmpty) return
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val inherited = sc.flatMap(s => Option(s.getLocalProperty(JobGroupKey)))
    val group = inherited.getOrElse(
      "graft-conc-" + java.lang.Long.toHexString(System.nanoTime()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // setJobGroup is thread-local, so tagging happens inside each unit;
    // pool threads are fresh per call, so no group leaks across calls
    try Await.result(Future.sequence(items.map(i => Future {
      sc.foreach(_.setJobGroup(group, "graft concurrent unit",
        interruptOnCancel = true))
      work(i)
    })), Duration.Inf)
    catch { case e: Throwable =>
      sc.foreach { s =>
        if (inherited.isDefined) s.cancelJobGroup(group)
        else s.cancelJobGroupAndFutureJobs(group)
      }
      pool.shutdownNow()
      throw e
    }
    finally pool.shutdown()
  }
}
