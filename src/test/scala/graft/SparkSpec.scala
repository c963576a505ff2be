package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session, local[2]): the
  * production session of Verify and Bench ([[GraftSession.local]]), so
  * specs exercise the same optimizer rules — including FocalPlan
  * fusion — and the same serializer the driver gate runs. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(2)
}

/** Walks adaptive plans into their query stages. */
private[graft] object AdaptivePlans extends AdaptiveSparkPlanHelper

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = mutable.ArrayBuffer.empty[Path]

  /** A fresh temporary directory, deleted with its contents after the
    * suite. */
  protected def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  /** `body`'s result, the number of Spark jobs it ran and the names of
    * the accumulators its stages updated. Listener events arrive
    * asynchronously but in order, so the count is taken between the
    * start events of two marker jobs. */
  protected def traced[A](body: => A): (A, Int, Set[String]) = {
    val sc = spark.sparkContext
    val tag = s"graft-spec-marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val accs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var markers = 0
    def inside = markers == 1
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == tag))
          markers += 1
        else if (inside) jobs.incrementAndGet()
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
        if (inside) st.stageInfo.accumulables.values.foreach(_.name.foreach(accs.add))
    }
    def marker(): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker()
      val out = body
      marker()
      val deadline = System.currentTimeMillis() + 20000
      while (markers < 2 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markers == 2, "marker jobs never reached the listener")
      (out, jobs.get(), accs.asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }

  /** The exchanges of `df`'s final adaptive plan, in tree order:
    * shuffle and broadcast exchanges, and a `ReusedExchangeExec` for
    * each reuse (its `child` is the exchange it reuses). The final plan
    * exists once an action has run on `df` itself. */
  protected def finalExchanges(df: DataFrame): Seq[SparkPlan] = {
    val plan = df.queryExecution.executedPlan
    plan match {
      case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan, "no action has run on this DataFrame")
      case _ =>
    }
    exchanges(plan)
  }

  /** The exchanges under `plan`, itself included, across query stages. */
  protected def exchanges(plan: SparkPlan): Seq[SparkPlan] =
    AdaptivePlans.collect(plan) { case e @ (_: Exchange | _: ReusedExchangeExec) => e }

  override protected def afterAll(): Unit =
    try tempDirs.foreach { d =>
      if (Files.exists(d))
        Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    } finally super.afterAll()
}
