package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Counts the Spark jobs a block of test code starts. */
object TestJobs {
  private val Key = "graft.test.jobs"

  /** What a block ran: its jobs in start order, and every physical plan
    * (the first plan and each adaptive re-plan) of the SQL executions
    * those jobs belong to. */
  final case class Run(jobs: Seq[SparkListenerJobStart], plans: Seq[SparkPlanInfo]) {
    /** The range exchanges of the plans, as partition counts. */
    def rangeExchanges: Seq[Int] = plans.flatMap(nodes).flatMap { n =>
      RangeExchange.findFirstMatchIn(n.simpleString).map(_.group(1).toInt)
    }
  }

  private val RangeExchange = """^Exchange rangepartitioning\(.*, (\d+)\), """.r

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  /** `f`'s result and what it ran: jobs from this thread and from the
    * threads it starts (they inherit its local properties). A marker job
    * after `f` flushes the listener bus, so every event of `f` has been
    * seen when this returns. */
  def during[T](spark: SparkSession)(f: => T): (T, Run) = {
    val sc = spark.sparkContext
    val tag = s"run-${java.util.UUID.randomUUID()}"
    val marker = s"$tag-end"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val plans = new ConcurrentLinkedQueue[(Long, SparkPlanInfo)]
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach {
          case `tag` => jobs.add(e)
          case `marker` => seen.countDown()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.executionId -> s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(u.executionId -> u.sparkPlanInfo)
        case _ =>
      }
    }
    val prev = sc.getLocalProperty(Key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, tag)
      val out = f
      sc.setLocalProperty(Key, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      val js = jobs.asScala.toSeq
      val execs = js.flatMap(j =>
        Option(j.properties.getProperty("spark.sql.execution.id")).map(_.toLong)).toSet
      (out, Run(js, plans.asScala.toSeq.collect { case (id, p) if execs(id) => p }))
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
