package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Dev profiler: time (and optionally explain) one registered query.
  *
  * `sbt "runMain graft.RunOne <name> [sfDir] [--explain] [--reps N] [--json f]"`
  *
  * Runs Bench's session and per-query protocol (GraftSession.run:
  * trainer eviction, noop write, reset), so a number measured here
  * predicts the per-query number in bench.json; rep 1 carries the
  * JIT/classload warmup. After the final rep it prints every Spark job
  * that rep ran — wall time, stage count and each stage's first
  * call-site line / task count — which shows where a multi-level plan
  * spends its fixed overhead (job scheduling, checkpoint
  * materialization, broadcast builds).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    // drop flags AND their values ("--reps 3" must not leak "3" into
    // the positional sfDir slot)
    val pos = args.zipWithIndex.filterNot { case (a, i) =>
      a.startsWith("--") ||
        (i > 0 && (args(i - 1) == "--reps" || args(i - 1) == "--json"))
    }.map(_._1)
    val name = pos.headOption.getOrElse(sys.error("usage: RunOne <query> [sfDir]"))
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val explain = args.contains("--explain")
    val reps = args.sliding(2).collectFirst {
      case Array("--reps", n) => n.toInt }.getOrElse(2)
    // --json <path>: append one machine-readable adjudication row —
    // the tools/adjudicate.py harness composes these into
    // adjudications_r{N}.json so burst-window flags are re-measured
    // and recorded AUTOMATICALLY, not hand-written (r16 verdict #6)
    val jsonOut = args.sliding(2).collectFirst {
      case Array("--json", p) => p }
    val spark = GraftSession.builder().getOrCreate()
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    if (explain) fn(spark, sfDir).explain("formatted")
    // per-job lines of the current rep (cleared at each rep's start)
    val starts = mutable.Map[Int, (Long, String)]()
    val jobs = mutable.ArrayBuffer[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.map(si => s"${si.name.takeWhile(_ != '\n').take(60)}/${si.numTasks}")
          .mkString(" | ")
        starts(js.jobId) = (js.time, s"stages=${js.stageInfos.size} $site")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.get(je.jobId).foreach { case (t0, site) =>
          jobs += f"[job] id=${je.jobId}%-4d dt=${(je.time - t0) / 1e3}%7.3fs  $site"
        }
    })
    // foreign CPU per rep (core-seconds other processes burned while
    // the rep ran) — the ONE shared /proc accounting (graft.ProcCpu)
    // Bench uses, steal included; an adjudication number is only
    // evidence if it carries its own contamination measurement
    // (co-tenant bursts on this box fake 3-10x regressions within a
    // single JVM's reps)
    val times = Array.ofDim[Double](reps)
    val foreigns = Array.ofDim[Double](reps)
    (1 to reps).foreach { i =>
      org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
      starts.clear(); jobs.clear()
      val b0 = ProcCpu.totalBusyJiffies(); val s0 = ProcCpu.selfJiffies()
      val dt = GraftSession.run(spark, name, sfDir)
      val b1 = ProcCpu.totalBusyJiffies(); val s1 = ProcCpu.selfJiffies()
      val foreign =
        if (b0 >= 0 && s0 >= 0 && b1 >= 0 && s1 >= 0)
          ((b1 - b0) - (s1 - s0)) / 100.0
        else -1.0
      times(i - 1) = dt; foreigns(i - 1) = foreign
      println(f"[runone] rep=$i $name t=$dt%.3fs foreign=$foreign%.1fs")
    }
    org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
    jobs.foreach(println)
    println(f"[runone] rep=$reps $name jobs=${jobs.size}")
    jsonOut.foreach { path =>
      // iso_mid = lower median of the WARM reps (rep 1 is the cold
      // JIT/classload run) — the same statistic the hand-written
      // adjudication rows have always reported
      val warm = (if (reps > 1) times.drop(1) else times).sorted
      val isoMid = warm((warm.length - 1) / 2)
      def arr(a: Array[Double]) =
        a.map(v => f"$v%.3f").mkString("[", ",", "]")
      val row = s"""{"query":"$name","sf":"$sfDir","reps":${arr(times)},""" +
        s""""foreign_cpu":${arr(foreigns)},"iso_mid":${f"$isoMid%.3f"}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), row + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
    spark.stop()
  }
}
