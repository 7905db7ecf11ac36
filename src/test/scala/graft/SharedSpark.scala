package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** The session every spec runs on: [[GraftSession.create]] at
  * local[4], the engine the mains verify and time. All suites share
  * one forked test JVM and so one session; a spec that needs other
  * runtime confs sets them through [[withConf]], which puts the
  * previous values back.
  */
trait SharedSpark { this: Suite =>

  lazy val spark: SparkSession = GraftSession.create(4)

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
