package graft

import org.apache.spark.sql.SparkSession

/** Plan-shape audit over the WHOLE query inventory: one markdown row per
  * query with its physical plan's exchange/scan/join-strategy counts —
  * the at-a-glance evidence that no query regressed into a cartesian
  * product, an un-broadcast dimension join, or an exchange pile-up.
  * Regenerate PLANS.md with (tools/roundclose.sh does):
  *
  *   sbt "runMain graft.PlanTool table" > PLANS.md
  *
  * Counts come from the pre-AQE physical plan (AQE re-plans at runtime,
  * typically REDUCING exchanges via coalescing/broadcast conversion, so
  * these are upper bounds). PlanShapeSpec asserts the load-bearing
  * invariants; this table is the full-surface inventory.
  *
  * `dump <outDir|-> <tag> [query...]` writes the formatted plans instead,
  * to `<outDir>/<query>_<tag>.txt` (the plans/rNN evidence) or stdout.
  * Both run on the bench's own [[Session]] posture and SPARK_GRAFT_SF_DIR.
  */
object PlanTool {
  def main(args: Array[String]): Unit = {
    val usage = "usage: PlanTool table | PlanTool dump <outDir|-> <tag> [query...]"
    args.headOption match {
      case Some("table") => require(args.length == 1, usage)
      case Some("dump") => require(args.length >= 3, usage)
      case _ => throw new IllegalArgumentException(usage)
    }
    val names = if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.start(Some(sfDir))
    if (args(0) == "table") table(spark, sfDir)
    else dump(spark, sfDir, args(1), args(2), names)
    spark.stop()
  }

  private def table(spark: SparkSession, sfDir: String): Unit = {
    println("# PLANS - physical-plan shape of every query")
    println()
    println(s"Generated by `graft.PlanTool table` (tools/roundclose.sh) on `$sfDir`. Columns: hash/round-robin/range")
    println("exchanges, parquet scans, join strategies present, cartesian check")
    println("(must always be `-`). Pre-AQE counts - runtime plans only shrink.")
    println()
    println("| query | hash ex | rr ex | range ex | scans | BHJ | SMJ/SHJ | BNLJ | cartesian | gwin |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val exec = fn(spark, sfDir).queryExecution.executedPlan
      val p = exec.toString
      val (hash, rr, range) = exchanges(p)
      val bhj = if (p.contains("BroadcastHashJoin")) "Y" else "-"
      val smj = if (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) "Y" else "-"
      val bnlj = if (p.contains("BroadcastNestedLoopJoin")) "Y" else "-"
      val cart = if (p.contains("CartesianProduct")) "CARTESIAN!" else "-"
      // partitionless Window = single-task global sort (tree check, same
      // invariant PlanShapeSpec's whole-inventory sweep enforces)
      val gwin = if (exec.collectFirst {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w }.nonEmpty) "GLOBAL!" else "-"
      println(s"| $name | $hash | $rr | $range | ${"Scan parquet".r.findAllIn(p).size} | " +
        s"$bhj | $smj | $bnlj | $cart | $gwin |")
    }
    // explicit terminator so the regen recipe's sed can cut here without
    // depending on the alphabetically-last query NAME (which changes as
    // the inventory grows):  sed -n '/^# PLANS/,/^<!-- END PLANS -->/p'
    println()
    println("<!-- END PLANS -->")
  }

  /** Exchanges in a physical plan's text, by partitioning: (hash,
    * round-robin, range). Spark prints them as `Exchange hashpartitioning(…)`,
    * `Exchange RoundRobinPartitioning(n)` and `Exchange rangepartitioning(…)`. */
  private[graft] def exchanges(plan: String): (Int, Int, Int) = {
    def n(pat: String) = pat.r.findAllIn(plan).size
    (n("Exchange hashpartitioning"), n("Exchange RoundRobinPartitioning"), n("Exchange rangepartitioning"))
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String, tag: String,
                   names: Seq[String]): Unit = {
    if (outDir != "-") java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = s"-- $name ($tag) on $sfDir\n" + df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      if (outDir == "-") println(plan)
      else {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), plan)
        println(s"wrote ${name}_$tag.txt")
      }
    }
  }
}
