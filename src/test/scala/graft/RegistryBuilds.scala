package graft

import org.apache.spark.sql.execution.SparkPlan

import graft.ops.LocalTail

/** Every registry entry built once per fixture directory inside a
  * [[LocalTail]] scope: its executed plan under the measured branch and
  * the gate decisions its construction made (none = an ungated entry).
  * Shared so the plan gates and the branch-equivalence test construct
  * the registry once per test JVM.
  */
object RegistryBuilds {
  final case class Build(
      name: String, plan: SparkPlan, decisions: Seq[LocalTail.Decision]) {
    def gated: Boolean = decisions.nonEmpty
  }

  private val built = scala.collection.mutable.Map.empty[String, Seq[Build]]

  def of(sfDir: String): Seq[Build] = synchronized {
    built.getOrElseUpdate(sfDir,
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val (plan, decisions) = LocalTail.scoped(None)(
          fn(TestSpark.spark, sfDir).queryExecution.executedPlan)
        Build(name, plan, decisions)
      })
  }
}
