package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.obs.Watch

/** `Tables.df`'s schema memo: one inference per file, the inferred
  * schema itself, the events.ts normalization on top, and a rewritten
  * file inferred again. */
class TablesSpec extends AnyFunSuite {
  import TestSession._

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Any): Int = Watch(spark)(body)._2.jobs.size

  /** `df` written as the single parquet file `dir/<name>.parquet`. */
  private def stage(df: DataFrame, dir: Path, name: String): Path = {
    val tmp = Files.createTempDirectory("graft_tables_w")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .filter(_.toString.endsWith(".parquet")).head
      Files.move(part, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    } finally graft.core.Fs.deleteRecursively(tmp)
  }

  test("a second Tables.df of one file starts no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables")
    try {
      stage(Seq(1L, 2L).toDF("a"), dir, "t")
      // the first read infers (a footer job), the second reads the memo
      assert(jobsOf(Tables.df(spark, dir.toString, "t")) >= 1)
      assert(jobsOf(Tables.df(spark, dir.toString, "t")) == 0)
      Tables.df(spark, sf, "orders")
      assert(jobsOf(Tables.df(spark, sf, "orders")) == 0)
      // a fresh relation per call: a self-join resolves both sides
      val o1 = Tables.df(spark, sf, "orders")
      val o2 = Tables.df(spark, sf, "orders")
      assert(o1.join(o2, o1("o_orderkey") === o2("o_orderkey")).count() ==
        o1.count())
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("the memoized schema is what spark.read.parquet infers") {
    Tables.names.foreach { n =>
      val p = s"$sf/$n.parquet"
      Tables.df(spark, sf, n)
      assert(Tables.schemaOf(spark, p) == spark.read.parquet(p).schema, n)
    }
  }

  test("events.ts is normalized to TimestampType under either NTZ " +
      "inference setting, with equal values") {
    val k = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val p = s"$sf/events.parquet"
    def micros = Tables.df(spark, sf, "events")
      .select(sum(unix_micros(col("ts"))), count(col("ts"))).head()
    val prev = spark.conf.get(k)
    val base = micros
    try {
      spark.conf.set(k, "true")
      // the memo is keyed by the inference confs: this is a new key
      assert(Tables.schemaOf(spark, p)("ts").dataType == TimestampNTZType)
      assert(Tables.df(spark, sf, "events").schema("ts").dataType ==
        TimestampType)
      assert(micros == base)
    } finally spark.conf.set(k, prev)
    assert(Tables.schemaOf(spark, p)("ts").dataType == TimestampType)
  }

  test("a rewritten file (new length or new mtime) is inferred again") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables")
    try {
      val f = stage(Seq(1L).toDF("a"), dir, "t")
      assert(Tables.df(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      stage(Seq((1L, "x")).toDF("a", "b"), dir, "t")
      assert(Tables.df(spark, dir.toString, "t").columns.toSeq ==
        Seq("a", "b"))
      assert(jobsOf(Tables.df(spark, dir.toString, "t")) == 0)
      // same bytes, new mtime: inferred again
      assert(f.toFile.setLastModified(f.toFile.lastModified() - 60000L))
      assert(jobsOf(Tables.df(spark, dir.toString, "t")) >= 1)
      assert(Tables.df(spark, dir.toString, "t").as[(Long, String)]
        .collect().toSeq == Seq((1L, "x")))
    } finally graft.core.Fs.deleteRecursively(dir)
  }
}
