package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (tests fork one JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** `body`'s result and the number of Spark jobs it submitted from
    * this thread: it runs under a fresh job group, then one sentinel job
    * in that group marks when the status store has caught up (listener
    * events arrive in order), so a job is never missed for event lag.
    */
  protected def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try {
      val out = body
      val sentinel = sc.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.ready(sentinel, scala.concurrent.duration.Duration.Inf)
      val sid = sentinel.jobIds.head
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      def ids = sc.statusTracker.getJobIdsForGroup(group)
      while (!ids.contains(sid)) {
        require(System.nanoTime < deadline, s"status store never saw job $sid")
        Thread.sleep(5)
      }
      (out, ids.count(_ != sid))
    } finally sc.clearJobGroup()
  }

  /** Every node of a physical plan, descending through the boundaries
    * `TreeNode.collect` treats as leaves: the AQE wrapper (present
    * whenever the plan has exchanges — a naive collect over
    * `executedPlan` silently sees NOTHING inside and any assertion on
    * it passes vacuously) and cached subplans.
    */
  protected def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    (p +: p.children.flatMap(flattenPlan)) ++ (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flattenPlan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        // post-execution AQE materializes stages as leaf wrappers —
        // without this case a flatten over an executed plan sees
        // nothing inside any stage
        flattenPlan(q.plan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        flattenPlan(m.relation.cachedPlan)
      case _ => Nil
    })
}
