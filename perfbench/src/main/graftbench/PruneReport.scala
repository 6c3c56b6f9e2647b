package graftbench

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LogicalPlan, Project}

/**
 * Lists the SparkEntry queries whose optimized `count()` plan is a bare
 * scan: Catalyst pruned every column the query computes, so timing them by
 * `count()` never runs their kernels. Prints the names as a JSON array.
 *
 * {{{ python3 perfbench/run.py --prune-report }}}
 */
object PruneReport {
  /** The global count aggregate directly over column-only projections of
    * one leaf (a file scan, or an already materialized relation). */
  def bareScan(plan: LogicalPlan): Boolean = plan match {
    case a: Aggregate => a.groupingExpressions.isEmpty && scanOnly(a.child)
    case _ => false
  }

  private def scanOnly(plan: LogicalPlan): Boolean = plan match {
    case p: Project => p.projectList.forall(_.isInstanceOf[Attribute]) && scanOnly(p.child)
    case _: LeafNode => true
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val a = Main.parse(args.toSeq)
    val conf = Conf.load(a("conf"), a.m)
    val dataDir = s"${a("run-dir")}/data"
    val spark = Main.session(a("cpus").toInt, a("run-dir"))
    Queries.setup(spark, 0L, dataDir, conf)
    val pruned = graft.SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (q, f) if bareScan(f(spark, s"$dataDir/tables").groupBy().count()
        .queryExecution.optimizedPlan) => q
    }
    spark.stop()
    println(pruned.map(q => "\"" + q + "\"").mkString("[", ", ", "]"))
  }
}
