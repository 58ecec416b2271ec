package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Plan audit: write the formatted physical plans of catalog queries to
  * a markdown file (PLANS.md: the scan pushdown / broadcast / codegen
  * evidence behind the bench results) and print the plan-shape
  * markers that decide whether a query survives a data-scale decade —
  * run at two SF dirs and diff.
  *
  *   tools/run.sh graft.PlanAudit <sfDir> <plans.md> [<name> …]
  *
  * Without names it audits the headline set (`Bench.headline`).
  * Markers per query: cartesian products (never), broadcast joins,
  * single-partition windows (empty partitionBy — the global-sort
  * smell), ntile, exchange count, scan count. The SCALING.md soak
  * tables cite this output.
  */
object PlanAudit {

  /** True when a plan line carries a Window whose partition spec is
    * empty — the single-task global sort smell. Partitioned windows
    * render as `windowspecdefinition(part1#1, …, ord#2 ASC …, frame)`;
    * a GLOBAL window's FIRST argument is already the order spec, so
    * ASC/DESC appears before the first comma. */
  private[graft] def hasGlobalWindow(l: String): Boolean = {
    val i = l.indexOf("windowspecdefinition(")
    i >= 0 && {
      val firstArg = l.substring(i + "windowspecdefinition(".length)
        .takeWhile(_ != ',')
      firstArg.contains(" ASC") || firstArg.contains(" DESC")
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, out) = (args(0), args(1))
    val names = if (args.length > 2) args.drop(2).toSeq else Bench.headline
    val spark = Harness.session("graft-planaudit")
    val md = new StringBuilder
    md.append(s"# Physical plans ($sfDir)\n\n")
    md.append("Generated by `graft.PlanAudit`. Things to check: `PushedFilters`\n")
    md.append("on scans, `ReadSchema` column pruning, `BroadcastHashJoin` for\n")
    md.append("dimension joins, two `HashAggregate`s (partial+final) per agg,\n")
    md.append("`WindowGroupLimit` under top-n.\n")
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      md.append(s"\n## $n\n\n```\n$plan```\n")
      val lines = plan.linesIterator.toSeq
      def count(m: String) = lines.count(_.contains(m))
      println(Seq(
        s"query=$n",
        s"cartesian=${count("CartesianProduct")}",
        s"bnlj=${count("BroadcastNestedLoopJoin")}",
        s"bhj=${count("BroadcastHashJoin")}",
        s"smj=${count("SortMergeJoin")}",
        s"exchanges=${lines.count(l => l.matches("""^\(\d+\) Exchange\s*"""))}",
        s"scans=${lines.count(l => l.matches("""^\(\d+\) Scan parquet\s*"""))}",
        s"ntile=${count("ntile")}",
        s"globalWindow=${lines.exists(hasGlobalWindow)}").mkString(" "))
    }
    Files.writeString(Paths.get(out), md.toString)
    println(s"[planaudit] wrote $out")
    spark.stop()
  }
}
