package graft

import org.scalatest.funsuite.AnyFunSuite
import QuerySpec.{MemoWarm, Replay}

/** [[SparkEntry.registry]] — the one place a row is declared — and the
  * `queries`/`oracleSql` maps and bench sets derived from it.
  */
class RegistrySpec extends AnyFunSuite {
  private val registry = SparkEntry.registry

  test("215 uniquely named rows back queries and oracleSql") {
    val names = registry.map(_.name)
    assert(names.size == 215 && names.distinct.size == 215)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet - "e5b_distinct_sketch")
    assert(registry.forall(q => SparkEntry.oracleSql.get(q.name) == q.oracle))
  }

  test("x rows fall in five sub-cohorts, every other row in its letter prefix") {
    val (x, rest) = registry.partition(_.name.startsWith("x"))
    assert(x.groupBy(_.cohort).map { case (c, qs) => c -> qs.size } == Map(
      "x-dedup" -> 25, "x-vec" -> 24, "x-quality" -> 24, "x-prep" -> 16, "x-retrieval" -> 13))
    val offPrefix = rest.filter(q => q.cohort != q.name.takeWhile(_.isLetter))
    assert(offPrefix.isEmpty, offPrefix.map(_.name))
  }

  test("Replay tags exactly the seven stream-replay rows") {
    assert(SparkEntry.tagged(Replay).toSet == Set(
      "w8_stream_daily", "w9_stream_enriched", "w11_stream_quality",
      "w12_neardup_admission", "w13_kmv_stream",
      "w14_substr_decontam_stream", "w15_incremental_admission"))
  }

  test("MemoWarm tags n10_components then x46_bpe_merges, nothing else") {
    assert(SparkEntry.tagged(MemoWarm) == Seq("n10_components", "x46_bpe_merges"))
  }

  test("only Sessions.scala builds a SparkSession in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val sessions = new java.io.File(root, "graft/Sessions.scala").getCanonicalFile
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val builders = files(root)
      .filter(f => f.getName.endsWith(".scala"))
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.matches("(?s).*\\bSparkSession\\s*\\.\\s*builder\\b.*") finally src.close()
      }
      .map(_.getCanonicalFile)
    assert(builders.contains(sessions))
    assert(builders.filterNot(_ == sessions).isEmpty,
      s"build sessions with Sessions.local; found a builder in ${builders.mkString(", ")}")
  }
}
