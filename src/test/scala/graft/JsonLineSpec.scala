package graft

import scala.util.Random

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.JsonLine
import graft.pipeline.HydroPipeline

/** [[JsonLine]] writes what `to_json` writes, byte for byte. `to_json`
  * (Spark's Jackson generator, default options) stays here as the
  * reference: seeded rows of the merged hydro feature's schema, q18's
  * schema and a schema of nested arrays and an empty struct are
  * serialized both ways and compared as bytes, under whole-stage
  * codegen with its fallback off and under interpreted evaluation.
  *
  * Strings are built from bytes (a binary column cast to string keeps
  * its bytes as they are), so they can carry what Jackson escapes and
  * what it does not: every byte 0x00–0x1F, `"`, `\`, DEL, U+2028, a
  * character outside the BMP, and malformed UTF-8 (a lone 0xC3, the
  * encoded surrogate 0xED 0xA0 0x80, a truncated 4-byte sequence).
  * Doubles include NaN, ±Infinity, −0.0, 1e-5, 1e7, 1e21 and
  * `Double.MinPositiveValue`. Nulls appear at every depth: as struct
  * fields (omitted), as array elements (written `null`) and as the
  * root (a null line). */
class JsonLineSpec extends AnyFunSuite {
  import TestSpark.{spark, withConf, CodegenOnly, InterpretedOnly}

  private def bytes(ints: Int*): Array[Byte] = ints.map(_.toByte).toArray
  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private val edgeStrings: IndexedSeq[Array[Byte]] =
    (0 until 0x20).map(b => bytes('a', b, 'z')) ++ IndexedSeq(
      (0 until 0x20).map(_.toByte).toArray,
      utf8(""), utf8("\""), utf8("\\"), utf8("a\"b\\c"), bytes(0x7f), utf8("  "),
      utf8("😀 outside the BMP"), utf8("Potomac Rïver à Brookmont, MD"),
      bytes(0xc3), bytes('x', 0xc3, '"', 'y'), bytes(0xed, 0xa0, 0x80),
      bytes(0xf0, 0x9f, 0x98), bytes(0xc0, 0xaf), bytes(0xf4, 0x90, 0x80, 0x80), bytes(0xff, 'q'),
      utf8("USGS:01646500:00060:00000"), utf8("2024-05-01T12:15:00.000-04:00"),
      utf8("undefined"))

  private val edgeDoubles: IndexedSeq[Double] = IndexedSeq(Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1e-5, 1e7, 1e21,
    Double.MinPositiveValue, Double.MaxValue, -77.12763889, 38.94977778, 1.0, 0.1, 123456789.125)

  /** `t` with every string replaced by binary: the shape rows are built in. */
  private def binary(t: DataType): DataType = t match {
    case StringType => BinaryType
    case ArrayType(e, n) => ArrayType(binary(e), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = binary(f.dataType))))
    case other => other
  }

  /** A seeded value of binary-shaped type `t`, null with probability
    * `pNull` at every depth where `t` admits a null. */
  private def value(t: DataType, rnd: Random, pNull: Double, nullable: Boolean = true): Any =
    if (nullable && rnd.nextDouble() < pNull) null
    else t match {
      case BinaryType =>
        if (rnd.nextInt(3) == 0) edgeStrings(rnd.nextInt(edgeStrings.size))
        else utf8(rnd.alphanumeric.take(rnd.nextInt(12)).mkString)
      case DoubleType =>
        if (rnd.nextInt(3) == 0) edgeDoubles(rnd.nextInt(edgeDoubles.size))
        else rnd.nextGaussian() * math.pow(10, rnd.nextInt(30) - 15)
      case ArrayType(e, n) => Seq.fill(rnd.nextInt(4))(value(e, rnd, pNull, n))
      case StructType(fs) => Row.fromSeq(fs.map(f => value(f.dataType, rnd, pNull, f.nullable)).toSeq)
    }

  /** `n` seeded rows `(id, r)`, `r` of struct type `t`, as a frame
    * backed by an RDD (a local relation would be folded on the driver,
    * interpreted, before codegen ever saw it). `r` is cast from its
    * binary shape, so each string keeps the bytes it was built from. */
  private def rows(t: StructType, n: Int, seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val data = (0 until n).map(i => Row(i.toLong, value(binary(t), rnd, if (i == 0) 1.0 else 0.15)))
    val shape = StructType(Seq(StructField("id", LongType), StructField("r", binary(t))))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), shape)
      .select(col("id"), col("r").cast(t).as("r"))
  }

  /** Rows whose kernel line differs from `to_json`'s, as (id, to_json, kernel). */
  private def mismatches(df: DataFrame): Seq[(Long, String, String)] =
    df.select(col("id"), to_json(col("r")).as("ref"), JsonLine(col("r")).as("got"))
      .filter(!(col("ref").cast("binary") <=> col("got").cast("binary")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private def lines(df: DataFrame): Seq[(Long, Array[Byte])] =
    df.select(col("id"), JsonLine(col("r")).cast("binary")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq

  private def codegen[T](f: => T): T = withConf(CodegenOnly: _*)(f)
  private def interpreted[T](f: => T): T = withConf(InterpretedOnly: _*)(f)

  private def featureSchema: StructType = {
    val merged = HydroPipeline.mergeSites(HydroPipeline.toFeatures(
      spark.read.parquet("fixtures/hydro/timeseries.parquet")))
    merged.select(struct(lit("Feature").as("type"), col("properties"), col("geometry")).as("r"))
      .schema("r").dataType.asInstanceOf[StructType]
  }

  private val q18Schema = StructType.fromDDL("type STRING, properties STRUCT<name: STRING, nation: STRING>")

  private val nestedSchema = StructType.fromDDL(
    "a ARRAY<ARRAY<DOUBLE>>, b ARRAY<STRUCT<x: STRING, y: DOUBLE>>, e STRUCT<>, " +
      "s STRING, `we\"ird\\\u0001name` DOUBLE")

  private def equalsToJson(name: String, t: => StructType, seeds: Seq[Long]): Unit =
    test(s"$name: the kernel equals to_json byte for byte, codegen and interpreted agree") {
      for (seed <- seeds) {
        val df = rows(t, 400, seed)
        val compiled = codegen {
          assert(mismatches(df).isEmpty, s"seed $seed, codegen: ${mismatches(df).take(3)}")
          lines(df)
        }
        val evaluated = interpreted {
          assert(mismatches(df).isEmpty, s"seed $seed, interpreted: ${mismatches(df).take(3)}")
          lines(df)
        }
        assert(compiled.map(_._1) == evaluated.map(_._1))
        compiled.zip(evaluated).foreach { case ((id, c), (_, e)) =>
          assert(java.util.Arrays.equals(c, e), s"seed $seed, row $id: codegen and interpreted differ")
        }
        assert(compiled.head._2 == null, "row 0 has a null root: its line must be null")
      }
    }

  equalsToJson("merged hydro feature", featureSchema, Seq(1L, 2L, 3L))
  equalsToJson("q18 feature", q18Schema, Seq(4L, 5L))
  equalsToJson("nested arrays, an empty struct and an escaped field name", nestedSchema, Seq(6L, 7L))

  test("every edge string and edge double, alone in a field, matches to_json") {
    val schema = StructType.fromDDL("s STRING, d DOUBLE, xs ARRAY<STRING>")
    val data = edgeStrings.indices.map { i =>
      Row(i.toLong, Row(edgeStrings(i), edgeDoubles(i % edgeDoubles.size),
        Seq(edgeStrings(i), null, edgeStrings((i + 1) % edgeStrings.size))))
    } ++ Seq(Row(1000L, Row(null, null, Seq.empty)), Row(1001L, Row(null, null, null)))
    val shape = StructType(Seq(StructField("id", LongType), StructField("r", binary(schema))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), shape)
      .select(col("id"), col("r").cast(schema).as("r"))
    codegen(assert(mismatches(df).isEmpty, mismatches(df).take(3)))
    interpreted(assert(mismatches(df).isEmpty, mismatches(df).take(3)))
    val empty = codegen(df.filter(col("id") === 1001L).select(JsonLine(col("r"))).head().getString(0))
    assert(empty == "{}")
  }

  test("the kernel's line is nullable, as to_json's is") {
    val df = rows(q18Schema, 4, 8)
    val out = df.select(to_json(col("r")).as("ref"), JsonLine(col("r")).as("got")).schema
    assert(out("got").dataType == StringType && out("got").nullable == out("ref").nullable)
  }

  test("a map or timestamp field fails analysis, naming the type") {
    val base = spark.range(1).toDF("id")
    def fails(field: Column, named: String): Unit = {
      val e = intercept[AnalysisException](base.select(JsonLine(struct(col("id").cast("double").as("d"), field))))
      assert(e.getMessage.contains(named), e.getMessage)
    }
    fails(map(lit("k"), col("id").cast("int")).as("m"), "map<string,int>")
    fails(current_timestamp().as("ts"), "timestamp")
    fails(col("id").as("n"), "bigint")
  }
}
