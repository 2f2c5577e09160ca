package graft.operators

import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A [[Par]] scope that fails must not leave the Spark jobs of its
  * launched actions running: interrupting the thread that waits for a
  * job does not stop the job. The jobs keep the caller's job group. */
class ParSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a scope whose body throws cancels the job a launched action runs") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val ended = new CompletableFuture[JobResult]
    @volatile var slowJob = -1
    @volatile var slowGroup: String = null
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("par.spec") == "slow") {
          slowJob = e.jobId
          slowGroup = e.properties.getProperty("spark.jobGroup.id")
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == slowJob) ended.complete(e.jobResult)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("caller-group", "caller's batch")
    try {
      val err = intercept[IllegalStateException] {
        Par.scoped { scope =>
          scope.launch { () =>
            sc.setLocalProperty("par.spec", "slow")
            sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(30000))
          }
          if (!started.await(30, TimeUnit.SECONDS))
            throw new AssertionError("the launched job never started")
          throw new IllegalStateException("composition failed")
        }
      }
      assert(err.getMessage == "composition failed")
      val result = ended.get(15, TimeUnit.SECONDS)
      assert(result != JobSucceeded)
      assert(slowGroup == "caller-group")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
