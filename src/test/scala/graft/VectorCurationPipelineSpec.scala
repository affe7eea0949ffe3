package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{Embeddings, VectorCurationPipeline}

/** [[VectorCurationPipeline]] — the embedding family's composed
  * curation (VERDICT r9 #5). The end-to-end audit is oracle-checked
  * (`emb_curation_audit`); this spec pins the composition properties
  * the oracle can't see: stage-funnel consistency and the
  * member-operator agreement.
  */
class VectorCurationPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("audit funnel is monotone and stages agree with the member operators") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = VectorCurationPipeline.run(e, col("vec_id") < 5)
    val audit = r.audit.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val splits = audit.keys.filter(_.startsWith("4_split_"))
      .map(audit).sum
    // funnel: each stage can only shrink; splits partition the release
    assert(audit("0_input") >= audit("1_exact_dedup"))
    assert(audit("1_exact_dedup") >= audit("2_semdedup"))
    assert(audit("2_semdedup") >= audit("3_decontaminated"))
    assert(splits === audit("3_decontaminated"))
    assert(audit("3_decontaminated") > 0)
    // curated ⊆ corpus, never an eval row
    val curatedIds = r.curated.select("vec_id").as[Long].collect().toSet
    assert(curatedIds.size.toLong === audit("3_decontaminated"))
    assert(!curatedIds.exists(_ < 5))
    // stage 3 agrees with the standalone decontamination operator: no
    // curated vector sits at >= threshold cosine to any eval vector
    val contaminated = Embeddings.semanticDecontaminate(e, col("vec_id") < 5)
      .filter(col("contaminated") === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(curatedIds.intersect(contaminated).isEmpty)
    r.unpersist()
  }
}
