package graft

/** Dev tool: dump the formatted physical plan of every registered
  * query (or the `SPARK_GRAFT_ONLY` selection) to stdout, under the
  * bench session — redirect to PLANS.md, or to a per-round file for
  * before/after plan evidence. Evidence for the SURVEY §4 scale rules
  * — pushdown, pruning, broadcast choice, partial aggregation, absence
  * of cartesian products — reviewable without running Spark.
  *
  * `sbt "runMain graft.Plans [sfDir]"`
  */
object Plans {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder().getOrCreate()
    println("# Physical plans (generated by graft.Plans; driver data at " + sfDir + ")")
    // alphabetical over the full selection — the r12 rule: PLANS.md
    // covers the full graded surface, not a curated headline subset
    val selected = GraftSession.selectedQueries
    selected.keys.toSeq.sorted.foreach { name =>
      println(s"\n## $name\n")
      println("```")
      try {
        val txt = selected(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // the full-PSL InSet literals print as ~230 KB single lines;
        // cap per-line length so the dump stays reviewable — the plan
        // SHAPE (node kinds, pushdowns, join choices) is what this
        // file exists to audit, not 5k-entry set literals
        println(txt.linesIterator.map(l =>
          if (l.length > 2000)
            l.take(2000) + s" ...[line truncated, ${l.length} chars total]"
          else l).mkString("\n"))
      } catch { case e: Throwable => println(s"error: ${e.getMessage}") }
      finally GraftSession.reset(spark)
      println("```")
    }
    spark.stop()
  }
}
