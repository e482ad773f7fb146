package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col

import graft.io.Sources
import graft.sim.Similarity

/** The native product-quantization kernels ([[org.apache.spark.sql.graft
  * .PqEncode]] and the query-side distance table) against their composed
  * Catalyst formulations: identical codes and tables, bit for bit. */
class AnnIndexSpec extends SparkSpec {

  /** `df`'s projection runs inside whole-stage codegen, and Janino
    * compiles every fused class (a rejected class reports -1 and would
    * fall back to the interpreted path). */
  private def assertWholeStage(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(plan.collectFirst { case w: WholeStageCodegenExec =>
      w.child.collectFirst { case p: ProjectExec => p } }.flatten.isDefined,
      s"the projection is not fused:\n$plan")
    codegenStringSeq(plan).foreach { case (tree, _, stats) =>
      assert(stats.maxMethodCodeSize >= 0, s"Janino rejected:\n$tree")
    }
  }

  test("native PqEncode == composed argmin, seeded and trained codebooks") {
    // the codegen'd argmin loop must emit the IDENTICAL code arrays as
    // the array_sort-over-structs formulation it replaced — same fold
    // order, same double total-order comparison, same lower-code
    // tie-break — across the whole fixture corpus, for both codebook
    // builders (64 trained entries exercises deep argmin chains)
    val emb = Sources.table(spark, sf0001, "embeddings")
    for (cb <- Seq(Similarity.pqCodebook(emb),
        Similarity.pqTrainedCodebook(emb))) {
      val both = emb.select(col("vec_id"),
        Similarity.pqCodes(cb, col("embedding")).as("fast"),
        Similarity.pqCodesComposed(cb, col("embedding")).as("composed"))
      val diverged = both
        .filter(col("fast") =!= col("composed")).count()
      assert(diverged === 0)
      // the native kernels fuse into one whole-stage class Janino accepts
      assertWholeStage(emb.select(Similarity.pqCodes(cb, col("embedding")),
        Similarity.pqDtab(cb, col("embedding"))))
      // and the interpreted eval path (nullSafeEval, no codegen) agrees
      // with the codegen'd result on a sample
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      val cbSeq = cb.toSeq.map(_.toSeq.map(_._1.toSeq))
      val sample = emb.orderBy(col("vec_id")).limit(50)
        .select(col("embedding"), Similarity.pqCodes(cb, col("embedding")))
        .collect()
      sample.foreach { r =>
        val viaEval = org.apache.spark.sql.graft.PqEncode(
          Literal.create(r.getSeq[Float](0), ArrayType(FloatType)), cbSeq)
          .eval(null).asInstanceOf[
            org.apache.spark.sql.catalyst.util.ArrayData].toIntArray.toSeq
        assert(viaEval === r.getSeq[Int](1))
      }
      // query-side dtab: native node == composed unrolled-literal form,
      // bit-for-bit (doubleToLongBits) across every (j, c) table entry.
      // One subspace per projection: the composed form unrolls Ksub
      // entries per subspace, and all PqM of them in one projection (512
      // at Ksub = 64) outgrow Janino's 64 KB method limit
      (0 until Similarity.PqM).foreach { j =>
        val dtabs = emb.filter(col("vec_id") < 10).select(col("vec_id"),
          Similarity.pqDtab(cb, col("embedding")).getItem(j).as("fast"),
          Similarity.pqDtabComposed(cb, col("embedding")).getItem(j)
            .as("composed"))
        assertWholeStage(dtabs)
        dtabs.collect().foreach { r =>
          def bits(i: Int): Seq[Long] = r.getSeq[Double](i)
            .map(java.lang.Double.doubleToLongBits).toSeq
          assert(bits(1) === bits(2), s"vec ${r.getLong(0)} subspace $j")
        }
      }
    }
  }
}
