package graft

import graft.queries.GateOps.{Flag, flag, refereed}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The gate referee: `refereed(out, label)(flags)` is `out` plus one
  * row per raised flag name, typed by `out`'s own schema.
  */
class GateOpsSpec extends SparkSpec {
  import spark.implicits._

  private def out = Seq((1, 10L, "a", 1.5), (2, 20L, "b", 2.5))
    .toDF("i", "n", "tag", "x")
  private def rows(n: Long) = spark.range(n).toDF("r")
  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("no raised flag leaves out's rows and schema unchanged") {
    val got = refereed(out, "tag")(
      flag("OFF", false), flag("EMPTY", rows(0)))
    assert(sorted(got) === sorted(out))
    assert(got.schema.simpleString === out.schema.simpleString)
    assert(refereed(out, "tag")().schema.simpleString ===
      out.schema.simpleString)
  }

  test("a true Boolean adds exactly one row holding its label") {
    val got = refereed(out, "tag")(flag("ON", true), flag("OFF", false))
    assert(got.count() === 3L)
    assert(got.filter(col("tag") === "ON").collect().toSeq ===
      Seq(Row(null, null, "ON", null)))
  }

  test("a probe adds one row however many rows it has; empty adds none") {
    val got = refereed(out, "tag")(
      flag("MANY", rows(50)), flag("NONE", rows(0)))
    assert(got.count() === 3L)
    assert(got.filter(col("tag") === "MANY").count() === 1L)
  }

  test("flags sharing a name OR into at most one row") {
    def added(flags: Flag*) =
      refereed(out, "tag")(flags: _*).count() - 2L
    assert(added(flag("X", false), flag("X", rows(3))) === 1L)
    assert(added(flag("X", true), flag("X", rows(3))) === 1L)
    assert(added(flag("X", false), flag("X", rows(0))) === 0L)
  }

  test("a numeric label column takes the flag name cast to its type") {
    val got = refereed(out, "n")(flag("-2", true))
    assert(got.schema("n").dataType === LongType)
    assert(got.filter(col("n") === -2L).select("tag").collect().toSeq ===
      Seq(Row(null)))
  }

  test("an Int column stays Int, where a hand-typed -1L filler widened it") {
    val got = refereed(out, "tag")(flag("ON", true), flag("P", rows(1)))
    assert(got.schema("i").dataType === IntegerType)
    assert(got.schema.simpleString === out.schema.simpleString)
    val handTyped = out.unionByName(spark.range(1).select(lit(-1L).as("i"),
      lit(-1L).as("n"), lit("ON").as("tag"), lit(0.0).as("x")))
    assert(handTyped.schema("i").dataType === LongType)
  }

  test("building a refereed output launches no Spark job") {
    val (base, probe) = (out, rows(5))
    assert(jobsDuring(probe.count()) >= 1L, "the job counter is dead")
    assert(jobsDuring {
      refereed(base, "tag")(flag("OFF", false)).schema
      refereed(base, "tag")(flag("P", probe)).schema
    } === 0L, "a false flag or an unexecuted probe launched a Spark job")
  }
}
