package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The graded table's shape, and plan-shape regression guards for the
  * graded queries, so a future change cannot silently reintroduce the two
  * scale anti-patterns the round-1/2 plan audits fixed:
  *
  *  - an UNPARTITIONED Window (`WindowExec: No Partition Defined` — the
  *    whole relation collapses to one task; the top-k paths must plan as
  *    TakeOrderedAndProject / windowless rank joins instead);
  *  - the interpreted `aggregate(zip_with(...))` higher-order dot-product
  *    kernel (evaluated per element per row; the codegen'd `long_dot`
  *    expression replaced it at ~50x — see Similarity.qdot).
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(n: String) =
    SparkEntry.graded.find(_.name == n).get.spark(spark, sfDir).queryExecution.optimizedPlan

  test("graded table: 136 uniquely named queries, each with oracle SQL") {
    val names = SparkEntry.graded.map(_.name)
    assert(names.size == 136)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    val noSql = SparkEntry.graded.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(noSql.isEmpty, s"empty oracle SQL: $noSql")
  }

  test("graded a5/ann/topk plans: no unpartitioned Window, no interpreted HOF dot kernel") {
    assume(new java.io.File(sfDir).exists(), s"$sfDir not present")
    val names = Seq("a5_bm25_topk", "a5_bm25_topk3", "o2_topk_window",
      "ann_cosine_topk", "ann_knn1", "ann_neardup", "ann_ivf_topk")
    names.foreach { n =>
      val lp = plan(n)
      val unpartitioned = lp.collect { case w: Window if w.partitionSpec.isEmpty => w }
      assert(unpartitioned.isEmpty,
        s"$n plans an unpartitioned Window (single-task sort at scale):\n$lp")
      assert(!lp.toString.contains("aggregate(zip_with"),
        s"$n uses the interpreted aggregate(zip_with(...)) kernel instead of long_dot:\n$lp")
    }
  }

  test("dedup LSH/minhash plans keep their windows partitioned") {
    assume(new java.io.File(sfDir).exists(), s"$sfDir not present")
    Seq("dedup_minhash_pairs", "dedup_simhash").foreach { n =>
      val lp = plan(n)
      val unpartitioned = lp.collect { case w: Window if w.partitionSpec.isEmpty => w }
      assert(unpartitioned.isEmpty, s"$n plans an unpartitioned Window:\n$lp")
    }
  }

  test("EVERY graded plan: no unpartitioned Window, no interpreted HOF dot kernel") {
    assume(new java.io.File(sfDir).exists(), s"$sfDir not present")
    // full sweep so a future graded query cannot reintroduce either trap;
    // building each DataFrame may run the query's eager setup (memo fills,
    // k-means training) at sf0.001 — cheap, and exactly what the bench does
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.graded.sortBy(_.name).foreach { g =>
      val n = g.name
      try {
        val lp = g.spark(spark, sfDir).queryExecution.optimizedPlan
        if (lp.collect { case w: Window if w.partitionSpec.isEmpty => w }.nonEmpty)
          failures += s"$n: unpartitioned Window"
        if (lp.toString.contains("aggregate(zip_with"))
          failures += s"$n: interpreted aggregate(zip_with(...)) kernel"
      } catch {
        case e: Throwable => failures += s"$n: plan build failed: ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
