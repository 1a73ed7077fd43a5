package graft

import graft.operators.Similarity

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session contract and per-query protocol (GraftSession). */
class GraftSessionSpec extends SparkSpec {

  test("drift guard: only GraftSession.scala builds a SparkSession under src/") {
    // the needle is split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val builders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet
    assert(builders == Set("GraftSession.scala"))
  }

  test("every memo-trainer key is a registered query") {
    val unknown = GraftSession.memoTrainers.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"trainer keys with no registered query: $unknown")
  }

  test("protocol runs: the tree trainer rebuilds every run, a tree consumer reuses the memo") {
    val b0 = Similarity.treeBuilds.get()
    GraftSession.run(spark, "semdedup_prune", sfDir)
    assert(Similarity.treeBuilds.get() == b0 + 1, "first trainer run builds the tree")
    GraftSession.run(spark, "semdedup_prune", sfDir)
    assert(Similarity.treeBuilds.get() == b0 + 2, "second trainer run builds it again")

    Similarity.evictTreeMemo()
    GraftSession.run(spark, "knn_recall_eval", sfDir)
    val b1 = Similarity.treeBuilds.get()
    assert(b1 > b0 + 2, "first consumer run after eviction builds its tree")
    GraftSession.run(spark, "knn_recall_eval", sfDir)
    assert(Similarity.treeBuilds.get() == b1, "second consumer run reuses the memo")
    Similarity.evictTreeMemo()
  }
}
