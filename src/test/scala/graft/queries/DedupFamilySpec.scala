package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Spark-side counterpart of OracleSpliceSpec's dedup_family pins:
  * the capstone's tagged union must carry its siblings' rows exactly.
  * Its 'doc' section is dedup_artifacts' keep-best section over the
  * shared labels, its 'assign' section dedup_assign's best-match rule
  * over the shared pair frame — so with the union's kind tag and its
  * null-padded columns dropped, each section equals the standalone
  * sibling row for row. */
class DedupFamilySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  test("dedup_family's doc and assign sections equal dedup_artifacts and dedup_assign") {
    val defs = DedupQueries.defs
    val fam = defs("dedup_family")(spark, sf)
    def section(kind: String, cols: Seq[String]) =
      fam.filter(col("kind") === kind)
        .select(col("id").as("doc_id") +: cols.map(col): _*)
        .orderBy("doc_id").collect().toSeq

    val docs = section("doc",
      Seq("cluster", "csize", "weight_fx", "score", "split", "is_kept"))
    docs shouldEqual defs("dedup_artifacts")(spark, sf).collect().toSeq
    // non-degenerate: some cluster keeps one copy and drops another
    assert(docs.exists(r => !r.getAs[Boolean]("is_kept")))

    val assigned = section("assign", Seq("cluster", "matched", "jac"))
    assigned shouldEqual defs("dedup_assign")(spark, sf).collect().toSeq
    // non-degenerate: some new doc joins a standing cluster
    assert(assigned.exists(r => r.getAs[Int]("matched") == 1))
  }
}
