package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Parity pin for the r12 twoHopReach rewrite: the oriented-pair
  * formulation (deg + doubled distinct a<b two-hop pairs, legal because
  * the customer⇄supplier graph is bipartite and the 2-hop relation is
  * symmetric) must match the old unionAll + countDistinct formulation
  * row for row — including on an adversarial degCap graph where some
  * mids are capped away.
  */
class TwoHopReachSpec extends SparkSpec {

  /** The pre-r12 formulation, verbatim, as the reference. */
  private def reference(dir: String, k: Int, degCap: Int) = {
    val e = Graph.customerSupplierEdges(spark, dir)
      .select(col("src"), col("dst"))
    val mid = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= degCap).select(col("src").as("m"))
    val hop1 = e.select(col("src").as("id"), col("dst").as("r"))
    val hop2 = e.select(col("src").as("id"), col("dst").as("m"))
      .join(broadcast(mid), "m")
      .join(e.select(col("src").as("m"), col("dst").as("r")), "m")
      .select(col("id"), col("r"))
    hop1.unionAll(hop2)
      .filter(col("id") =!= col("r"))
      .groupBy("id").agg(countDistinct(col("r")).as("reach"))
      .orderBy(col("reach").desc, col("id"))
      .limit(k)
  }

  test("twoHopReach matches the unionAll+countDistinct reference (sf0.001)") {
    val got = Graph.twoHopReach(spark, sf, k = 50, degCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp = reference(sf, k = 50, degCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp, s"rewrite diverged:\n got=$got\n exp=$exp")
  }

  test("twoHopReach parity with a tight degCap (capped mids drop pairs)") {
    val got = Graph.twoHopReach(spark, sf, k = 30, degCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp = reference(sf, k = 30, degCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp, s"rewrite diverged at degCap=3:\n got=$got\n exp=$exp")
  }
}

/** twoHopReach's bipartite rewrite needs every custkey below the
  * supplier key offset; a fixture whose custkey crosses it must fail
  * with a message naming the overlap, not return a wrong count. */
class TwoHopReachOffsetSpec extends SparkSpec {

  private def fixture(custkeys: Seq[Long]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("reach-offset").toString
    custkeys.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    custkeys.indices.flatMap(i => Seq((i.toLong, 1L), (i.toLong, 2L)))
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("a custkey at the supplier offset fails loudly") {
    val ok = fixture(Seq(1L, 2L, 3L))
    assert(Graph.twoHopReach(spark, ok).count() > 0)
    val bad = fixture(Seq(1L, Graph.supplierKeyOffset + 3, 3L))
    val err = intercept[Exception](Graph.twoHopReach(spark, bad).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("reaches the supplier key offset")),
      s"unexpected failure: ${msgs.mkString(" | ")}")
  }
}
