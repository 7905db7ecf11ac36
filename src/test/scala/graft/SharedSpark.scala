package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Suite

/** The session every spec runs on: [[GraftSession.create]] at
  * local[4], the engine the mains verify and time. All suites share
  * one forked test JVM and so one session; a spec that needs other
  * runtime confs sets them through [[withConf]], which puts the
  * previous values back. Scratch dirs come from [[TempDirs.tempDir]].
  */
trait SharedSpark extends TempDirs { this: Suite =>

  lazy val spark: SparkSession = GraftSession.create(4)

  /** `withConf(forceBig) { ... }` puts every [[Regimes]] entry on its
    * big side for plans built inside the block. */
  val forceBig: (String, String) = Regimes.ForceBig -> "true"

  /** Runs `body` with the given runtime confs set, then restores each
    * key's previous value (or unsets it), also when `body` throws. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every node, root first, of the physical plan the last query
    * `action` ran executed: AQE's final plan, through its query stages.
    * The query is caught by a QueryExecutionListener, so this sees
    * what a write actually planned, not a rebuilt copy of its input. */
  def executedNodes(action: => Unit): Seq[SparkPlan] = {
    val ran = ArrayBuffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ran.synchronized(ran += qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { action; BusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(ran.synchronized(ran.last).executedPlan)
  }

  /** Each (query, sf dir) returns the same sorted rows at 4 and at 7
    * shuffle partitions, and at least one row unless named in
    * `mayBeEmpty` — the determinism the oracle gate cannot see (it
    * runs one configuration). */
  def assertPartitionInvariant(queries: Seq[(String, String)],
                               mayBeEmpty: Set[String] = Set.empty): Unit =
    for ((name, dir) <- queries) {
      def snapshot(parts: Int): Seq[String] =
        withConf("spark.sql.shuffle.partitions" -> parts.toString) {
          SparkEntry.queries(name)(spark, dir).collect()
            .map(_.toString).sorted.toSeq
        }
      val a = snapshot(4)
      val b = snapshot(7)
      assert(a == b, s"$name varies with partition count")
      if (!mayBeEmpty(name))
        assert(a.nonEmpty, s"$name returned no rows at $dir")
    }
}
