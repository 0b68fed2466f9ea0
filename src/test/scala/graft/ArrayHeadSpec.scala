package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ArrayHead

/** [[ArrayHead]] equals the guarded formula it replaces,
  * `when(size(c) > 0, c.getItem(0))`, kept here as the reference: over
  * null, empty, null-first, one-element and multi-element arrays of
  * strings and of structs, with ANSI mode on and off, under whole-stage
  * codegen (fallback off) and interpreted evaluation. */
class ArrayHeadSpec extends AnyFunSuite {
  import TestSpark.{spark, withConf, CodegenOnly, InterpretedOnly}

  private def reference(c: Column): Column = when(size(c) > 0, c.getItem(0))

  private val struct2 = StructType.fromDDL("code STRING, value DOUBLE")

  private def frame(element: DataType, arrays: Seq[Any]): DataFrame = {
    val shape = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(element, containsNull = true))))
    val rows = arrays.zipWithIndex.map { case (a, i) => Row(i.toLong, a) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), shape)
  }

  private val strings = frame(StringType, Seq(null, Seq.empty, Seq(null), Seq(null, "b"),
    Seq("a"), Seq("a", "b", "c"), Seq("", null), Seq("x", null)))

  private val structs = frame(struct2, Seq(null, Seq.empty, Seq(null), Seq(null, Row("b", 2.0)),
    Seq(Row("a", 1.0)), Seq(Row(null, null), Row("b", 2.0)), Seq(Row("a", Double.NaN), null)))

  private val modes = Seq("codegen" -> CodegenOnly, "interpreted" -> InterpretedOnly)

  for ((kind, df) <- Seq("strings" -> strings, "structs" -> structs); ansi <- Seq("true", "false");
       (mode, conf) <- modes)
    test(s"arrays of $kind, ANSI $ansi, $mode: the kernel equals when(size(c) > 0, c.getItem(0))") {
      withConf(conf :+ ("spark.sql.ansi.enabled" -> ansi): _*) {
        val out = df.select(col("id"), reference(col("a")).as("ref"), ArrayHead(col("a")).as("got"))
        assert(out.schema("got").dataType == out.schema("ref").dataType)
        assert(out.schema("got").nullable)
        val rows = out.orderBy("id").collect()
        assert(rows.length == df.count())
        rows.foreach(r => assert(r.get(2) == r.get(1), s"row ${r.getLong(0)}: ${r.get(2)} vs ${r.get(1)}"))
        // nested heads, as toFeatures reads values[0].value[0]
        val nested = df.select(col("id"), array(col("a"), col("a")).as("aa"))
          .select(reference(reference(col("aa"))).as("ref"), ArrayHead(ArrayHead(col("aa"))).as("got"))
          .collect()
        nested.foreach(r => assert(r.get(1) == r.get(0)))
      }
    }

  test("a non-array input fails analysis, naming its type") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(ArrayHead(col("id"))))
    assert(e.getMessage.contains("bigint"), e.getMessage)
  }
}
