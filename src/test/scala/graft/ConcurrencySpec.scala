package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.TaskContext

import graft.util.Concurrency.runConcurrently

/** The shared fan-out helper: job-group propagation into nested fan-outs and
  * cancellation of grandchild jobs when a unit fails.
  */
class ConcurrencySpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def group: String = spark.sparkContext.getLocalProperty("spark.jobGroup.id")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark // the fan-out tags units only when a session exists
  }

  test("nested fan-outs tag their units with the outermost job group") {
    val seen = new ConcurrentLinkedQueue[String]()
    def nested(): Unit = runConcurrently(0 until 3) { _ =>
      seen.add(group)
      runConcurrently(0 until 2) { _ => seen.add(group) }
    }
    nested()
    val minted = seen.asScala.toSet
    assert(seen.size == 9 && minted.size == 1 && minted.head.startsWith("graft-conc-"))
    assert(group == null, "the caller's thread is never tagged")

    seen.clear()
    spark.sparkContext.setJobGroup("caller-group", "spec caller")
    try nested()
    finally spark.sparkContext.clearJobGroup()
    assert(seen.asScala.toSet == Set("caller-group"))
  }

  test("a failing unit cancels a grandchild job of a nested fan-out") {
    val started = new CountDownLatch(1)
    val killed = new CountDownLatch(2)
    ConcurrencySpec.started.set(started)
    ConcurrencySpec.killed.set(killed)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      runConcurrently(Seq(0, 1)) {
        case 0 =>
          runConcurrently(Seq(0)) { _ =>
            // a job whose tasks would run for a minute unless cancelled
            spark.sparkContext.parallelize(0 until 2, 2).foreach { _ =>
              ConcurrencySpec.started.get().countDown()
              val deadline = System.nanoTime() + 60L * 1000000000L
              try while (System.nanoTime() < deadline) {
                Thread.sleep(20)
                if (TaskContext.get().isInterrupted())
                  throw new InterruptedException("task killed")
              } finally {
                if (TaskContext.get().isInterrupted())
                  ConcurrencySpec.killed.get().countDown()
              }
            }
          }
        case _ =>
          assert(started.await(30, TimeUnit.SECONDS), "grandchild never started")
          throw new IllegalStateException("unit failed")
      }
    }
    assert(e.getMessage == "unit failed")
    // both tasks see their kill long before their minute is up
    assert(killed.await(30, TimeUnit.SECONDS), "grandchild job was not cancelled")
    assert((System.nanoTime() - t0) / 1e9 < 45.0)
  }
}

object ConcurrencySpec {
  /** Latches the grandchild's tasks count down once running and once killed
    * (tasks run in the driver JVM under local mode, so a static reference
    * reaches them).
    */
  val started = new AtomicReference[CountDownLatch](new CountDownLatch(0))
  val killed = new AtomicReference[CountDownLatch](new CountDownLatch(0))
}
