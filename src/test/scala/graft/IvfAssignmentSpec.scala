package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.L2Argmin.l2Scored
import graft.ops.SimilarityOps

/** The label-codebook IVF assigns and probes through the codegen'd
  * `L2Argmin`/`L2Scored` kernels over a driver-side model. The formula
  * they replaced is kept here as the reference: a one-row codebook of
  * label-sorted (clabel, centroid) structs, broadcast to every row, and
  * per row an `array_sort` of (d2, clabel) structs whose d2 is an
  * `aggregate(zip_with(…))` fold. Per-vector lists and probe lists
  * compare exactly, on sf0.001 and on crafted tables with distance ties,
  * signed zeros, non-finite components, negative and gapped labels, one
  * label, and more probes than labels. Where the kernel and the formula
  * part, the difference is pinned: a row whose every distance is NaN or
  * +Infinity gets list −1 from `L2Argmin` (no distance is below its
  * Double.MaxValue start), where the sorted structs give it the lowest
  * label. */
class IvfAssignmentSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  /** The reference one-row codebook: label-sorted (clabel, cent). */
  private def refCodebook(e: DataFrame): DataFrame =
    e.select(col("label").as("clabel"), posexplode(col("embedding")))
      .groupBy(col("clabel"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cent"))
      .agg(array_sort(collect_list(struct(col("clabel"), col("cent")))).as("cents"))

  /** The reference distances: (d2, clabel) structs, ascending. */
  private def refDists: Column = {
    def d2(c: Column): Column = aggregate(
      zip_with(col("embedding"), c.getField("cent"),
        (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
      lit(0.0), (a, v) => a + v)
    array_sort(transform(col("cents"),
      c => struct(d2(c).as("d2"), c.getField("clabel").as("clabel"))))
  }

  /** vec_id → (list, probe lists) under the reference formula. */
  private def reference(e: DataFrame, nprobe: Int): Map[Long, (Long, Seq[Long])] =
    e.crossJoin(broadcast(refCodebook(e)))
      .select(col("vec_id"), refDists.getItem(0).getField("clabel").cast("long"),
        transform(slice(refDists, 1, nprobe), p => p.getField("clabel").cast("long")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap

  /** vec_id → (list, probe lists) through the kernels. */
  private def kernel(e: DataFrame, nprobe: Int): Map[Long, (Long, Seq[Long])] = {
    val model = SimilarityOps.ivfCodebook(e)
    SimilarityOps.ivfAssigned(e, model)
      .select(col("vec_id"), col("clabel"),
        SimilarityOps.probeLists(col("embedding"), model, nprobe))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
  }

  private def table(rows: (Long, Seq[Float], Int)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(rows.map { case (id, v, l) => Row(id, v, l) }.asJava, schema)
  }

  /** Labels −3, 5, 7 and 40 (negative, gapped). Vector 10 sits exactly
    * between the centroids of −3 at (2, 0, 0) and 5 at (0, 0, 0): an
    * exact d2 tie. Vectors 20 and 21 carry −0.0. Vector 30 has a NaN
    * component and vector 31 a +Infinity one; both are alone in label
    * 40 at that dimension, so 40's centroid is NaN there, every other
    * vector's distance to 40 is NaN, and 30's and 31's own distances
    * are all NaN, or NaN and +Infinity. */
  private lazy val crafted = table(
    (1L, Seq(2f, 0f, 0f), -3), (2L, Seq(2f, 1f, 0f), -3), (3L, Seq(2f, -1f, 0f), -3),
    (4L, Seq(0f, 0f, 0f), 5), (5L, Seq(0f, 1f, 0f), 5), (6L, Seq(0f, -1f, 0f), 5),
    (10L, Seq(1f, 0f, 0f), 7), (11L, Seq(1f, 0f, 10f), 7),
    (20L, Seq(-0.0f, 0f, 0f), 7), (21L, Seq(0f, -0.0f, -0.0f), 5),
    (30L, Seq(Float.NaN, 3f, 3f), 40), (31L, Seq(Float.PositiveInfinity, 3f, 3f), 40),
    (32L, Seq(5f, 5f, 5f), 40))

  test("codebook: the driver model is the reference codebook, label-ascending, bit for bit") {
    for (e <- Seq(Tables.embeddings(spark, sf), crafted)) {
      val ref = refCodebook(e).collect().head.getSeq[Row](0)
        .map(r => (r.getInt(0).toLong, r.getSeq[Double](1)))
      val got = SimilarityOps.ivfCodebook(e).map { case (l, c) => (l, c.toSeq) }
      def bits(m: Seq[(Long, Seq[Double])]) =
        m.map { case (l, c) => (l, c.map(java.lang.Double.doubleToRawLongBits)) }
      assert(bits(got) == bits(ref))
    }
  }

  test("sf0.001: every vector's list and probe lists equal the reference, nprobe 1, 2 and 12") {
    val e = Tables.embeddings(spark, sf)
    for (n <- Seq(1, 2, 12)) {
      val (ref, got) = (reference(e, n), kernel(e, n))
      assert(ref.size == e.count() && got == ref, s"nprobe $n")
    }
  }

  test("crafted: ties, signed zeros, negative and gapped labels match; all-non-finite rows pinned to -1") {
    val ref = reference(crafted, 2)
    val got = kernel(crafted, 2)
    assert(ref(10L) == ((-3L, Seq(-3L, 5L))), "the exact tie goes to the lower label")
    assert(got.keySet == ref.keySet)
    val differ = got.keySet.filter(id => got(id) != ref(id))
    assert(differ == Set(30L, 31L), s"vectors that differ: $differ")
    for (id <- Seq(30L, 31L)) {
      assert(got(id)._1 == -1L && ref(id)._1 == -3L, s"vector $id: ${got(id)} vs ${ref(id)}")
      assert(got(id)._2 == ref(id)._2, s"vector $id probes")
    }
  }

  test("crafted: one label, and more probes than labels") {
    val finite = crafted.filter(!col("vec_id").isin(30L, 31L))
    val one = finite.withColumn("label", lit(4))
    assert(kernel(one, 3) == reference(one, 3))
    assert(kernel(one, 3).values.toSet == Set((4L, Seq(4L))))
    val got = kernel(finite, 9)
    assert(got == reference(finite, 9))
    assert(got.values.forall(_._2.sorted == Seq(-3L, 5L, 7L, 40L)))
  }

  test("learned models (q184, q234): sort_array + getField selects what transform(array_sort) did") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val probes = Seq(1, 2, 8, 20)
    for ((k, iters) <- Seq(8 -> 3, 8 -> 2, 16 -> 3)) {
      val model = SimilarityOps.lloydCentroids(spark, e, k, iters)
      val rows = e.select(col("vec_id") +: probes.flatMap(n => Seq(
        transform(slice(array_sort(l2Scored(col("embedding"), model)), 1, n),
          s => s.getField("cl")),
        SimilarityOps.probeLists(col("embedding"), model, n))): _*).collect()
      assert(rows.nonEmpty)
      for (r <- rows; (n, i) <- probes.zipWithIndex)
        assert(r.getSeq[Long](2 * i + 1) == r.getSeq[Long](2 * i + 2),
          s"k $k iters $iters nprobe $n vector ${r.getLong(0)}")
    }
  }
}
