package graft

import java.sql.Timestamp
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DedupOps, RelationalExt}

/** The plans that keep the query mix inside Spark's generated-class
  * cache return the rows of the formulas they replaced, which are kept
  * here as references: q256's transition counts as a sorted fold
  * against `lead` over a user window plus a `groupBy`; the LSH band
  * pairs as a self-join on (band, bucket) against a `collect_list` of
  * bucket members exploded by [[DedupOps.bucketPairs]]; the explicit
  * distinct expansion against `count(DISTINCT …)`. Inputs are seeded
  * and cover nulls, ties and degenerate groups; rows compare exactly. */
class ReferenceFormsSpec extends AnyFunSuite {
  import TestSpark.spark

  private def frame(rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  // ---- q256 transition counts ------------------------------------------

  /** The parent formula: `lead(event_type)` over (ts, event_id) per
    * user, non-null targets, counted per (s, t). */
  private def leadTransitions(events: DataFrame): Map[(String, String), Long] = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("t", lead(col("event_type"), 1).over(w))
      .filter(col("t").isNotNull)
      .groupBy(col("event_type").as("s"), col("t"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  /** Seeded events: users 0–11 and a null user, each with a handful of
    * events; one-event users 100–109; types a–d with nulls; timestamps
    * on a coarse grid, so users hold ts ties that event_id breaks. */
  private def seededEvents(seed: Int, userType: DataType): DataFrame = {
    val rnd = new Random(seed)
    var id = 0L
    def user(u: Option[Int]): Any = u.map(v => if (userType == StringType) s"u$v" else v.toLong).orNull
    val multi = for {
      u <- (0 until 12).map(Some(_)) :+ None
      _ <- 0 until (2 + rnd.nextInt(12))
    } yield (u, rnd.nextInt(6))
    val single = (100 until 110).map(u => (Some(u), rnd.nextInt(6)))
    val types = Seq("a", "b", "c", "d", null)
    val rows = rnd.shuffle(multi ++ single).map { case (u, minute) =>
      id += 1
      Row(user(u), id, types(rnd.nextInt(types.length)),
        Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"))
    }
    frame(rows, StructType(Seq(StructField("user_id", userType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType))))
  }

  test("transition counts: the sorted fold equals lead over a user window plus groupBy") {
    for (seed <- 1 to 3; userType <- Seq(LongType, StringType)) {
      val events = seededEvents(seed, userType).repartition(3)
      val want = leadTransitions(events)
      assert(want.keys.exists(_._1 == null), "the seeded input has no null source type")
      assert(RelationalExt.transitionCounts(events) == want, s"seed $seed, user_id $userType")
    }
  }

  test("transition counts: empty input, one event, one user, and all-null user ids") {
    val events = seededEvents(4, LongType)
    for ((name, in) <- Seq("empty" -> events.limit(0), "one event" -> events.limit(1),
        "one user" -> events.withColumn("user_id", lit(7L)),
        "null users" -> events.withColumn("user_id", lit(null).cast("long"))))
      assert(RelationalExt.transitionCounts(in) == leadTransitions(in), name)
  }

  // ---- LSH band pairs --------------------------------------------------

  /** The parent formula: each (band, bucket)'s members collected as
    * (doc_id, n) structs and exploded into ordered pairs. */
  private def memberPairs(banded: DataFrame): Seq[Row] = {
    val members = banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("members"))
    DedupOps.bucketPairs(members)
      .select(col("x.doc_id").as("doc_a"), col("x.n").as("n_a"),
        col("y.doc_id").as("doc_b"), col("y.n").as("n_b"))
      .collect().toSeq.sortBy(_.toString)
  }

  /** Seeded band rows: 60 docs × 4 bands. Band 0 puts most docs in one
    * large bucket, band 1 gives every doc its own bucket (singletons),
    * bands 2–3 draw from a few buckets and a null bucket. */
  private def seededBands(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = for (doc <- 0L until 60L; band <- 0 until 4) yield {
      val bucket = band match {
        case 0 => if (rnd.nextInt(10) < 8) "big" else s"s$doc"
        case 1 => s"own$doc"
        case _ => Seq("x", "y", "z", null)(rnd.nextInt(4))
      }
      Row(doc, 1 + rnd.nextInt(9), band, bucket)
    }
    frame(rnd.shuffle(rows), StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = false), StructField("band", IntegerType, nullable = false),
      StructField("bucket", StringType))))
  }

  test("band pairs: the (band, bucket) self-join equals collect_list members plus bucketPairs") {
    for (seed <- 1 to 3) {
      val banded = seededBands(seed)
      val want = memberPairs(banded)
      val got = DedupOps.bandPairs(banded).collect().toSeq.sortBy(_.toString)
      assert(got.size > 60 * 59 / 4, s"seed $seed: the large bucket yielded only ${got.size} pairs")
      assert(got == want, s"seed $seed")
    }
  }

  test("band pairs: a bucket shared by no two docs yields none; null buckets pair with each other") {
    val banded = seededBands(4)
    assert(DedupOps.bandPairs(banded.filter(col("band") === 1)).isEmpty)
    val nulls = banded.filter(col("bucket").isNull)
    assert(nulls.count() > 2)
    val got = DedupOps.bandPairs(nulls).collect().toSeq.sortBy(_.toString)
    assert(got.nonEmpty && got == memberPairs(nulls))
  }

  // ---- explicit distinct expansion -------------------------------------

  /** Seeded rows: a nullable group, a long key, a double key with
    * −0.0/0.0/NaN and nulls, and a string key with nulls. */
  private def seededKeys(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val doubles = Seq[Any](-0.0d, 0.0d, Double.NaN, 1.5d, 2.5d, null)
    val rows = (0 until 400).map { _ =>
      Row(Seq("A", "B", "C", null)(rnd.nextInt(4)),
        if (rnd.nextInt(8) == 0) null else rnd.nextInt(40).toLong,
        doubles(rnd.nextInt(doubles.length)),
        if (rnd.nextInt(5) == 0) null else s"k${rnd.nextInt(25)}")
    }
    frame(rows, StructType(Seq(StructField("g", StringType), StructField("kl", LongType),
      StructField("kd", DoubleType), StructField("ks", StringType))))
  }

  private val keys: Seq[(String, Column)] = Seq("n_l" -> col("kl"), "n_d" -> col("kd"),
    "n_s" -> col("ks"), "n_pair" -> concat_ws("_", col("kl"), col("ks")))

  private def distinctRef(df: DataFrame, groups: Seq[String]): DataFrame =
    df.groupBy(groups.map(col): _*).agg(
      countDistinct(col("kl")).as("n_l"), countDistinct(col("kd")).as("n_d"),
      countDistinct(col("ks")).as("n_s"),
      countDistinct(concat_ws("_", col("kl"), col("ks"))).as("n_pair"),
      count(lit(1)).as("n_rows"))

  private def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, what)
    assert(got.collect().toSeq.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString), what)
  }

  test("distinct counts: the explicit expansion equals count(DISTINCT) per group and globally") {
    for (seed <- 1 to 3; groups <- Seq(Seq("g"), Nil)) {
      val df = seededKeys(seed)
      sameRows(RelationalExt.distinctCounts(df, groups, keys, rowCount = Some("n_rows")),
        distinctRef(df, groups), s"seed $seed, groups $groups")
    }
  }

  test("distinct counts: empty input, all-null keys, and no row count") {
    val df = seededKeys(4)
    val nullKeys = df.select(col("g"), lit(null).cast("long").as("kl"),
      lit(null).cast("double").as("kd"), lit(null).cast("string").as("ks"))
    for ((name, in) <- Seq("empty" -> df.limit(0), "null keys" -> nullKeys); groups <- Seq(Seq("g"), Nil))
      sameRows(RelationalExt.distinctCounts(in, groups, keys, rowCount = Some("n_rows")),
        distinctRef(in, groups), s"$name, groups $groups")
    sameRows(RelationalExt.distinctCounts(df, Seq("g"), keys.take(1)),
      df.groupBy(col("g")).agg(countDistinct(col("kl")).as("n_l")), "one key, no row count")
  }
}
