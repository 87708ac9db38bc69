package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardCopyOption}

/** A corpus read takes its schema from the parquet footer on the
  * driver: the schema `spark.read.parquet` infers (nullability and
  * field metadata included), with no Spark job while the frame is
  * built. Where Spark's own inference must run (merged schemas, no
  * data file) the read is Spark's, errors included. */
class FooterSchemaSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("every corpus table loads with Spark's inferred schema and starts no job") {
    Tables.all.foreach { name =>
      val path = s"$sf/$name.parquet"
      val expected = spark.read.parquet(path).schema
      assert(jobsOf(Tables.load(spark, sf, name)) == 0,
        s"$name: building the load started a job")
      val got = Tables.t(spark, sf, name)
      assert(got.schema == expected, s"$name: ${got.schema} != $expected")
      assert(got.count() == spark.read.parquet(path).count(), name)
    }
  }

  test("a Spark-written directory table keeps its row metadata, decimals, structs and NTZ") {
    val dir = tmp("footer-dir")
    val noted = new MetadataBuilder().putString("comment", "kept through the row-metadata key").build()
    spark.range(12).repartition(3).select(
        col("id").as("k", noted),
        (col("id") / 7).cast(DecimalType(12, 3)).as("amount"),
        struct(col("id").as("a"), struct(lit("x").as("c")).as("b")).as("nested"),
        timestamp_micros(col("id") * 1000000L).cast(TimestampNTZType).as("at"))
      .write.parquet(s"$dir/t.parquet")
    val files = new java.io.File(s"$dir/t.parquet").list().toSeq
    assert(files.contains("_SUCCESS") && files.count(_.endsWith(".parquet")) == 3, files)
    val expected = spark.read.parquet(s"$dir/t.parquet").schema
    assert(expected("k").metadata == noted, "fixture: the field metadata must survive a read")
    assert(expected("at").dataType == TimestampNTZType)
    assert(jobsOf(Tables.t(spark, dir, "t")) == 0)
    val got = Tables.t(spark, dir, "t")
    assert(got.schema == expected)
    assert(got.orderBy("k").collect().toSeq ==
      spark.read.parquet(s"$dir/t.parquet").orderBy("k").collect().toSeq)
  }

  test("the touched file follows Spark's choice: _common_metadata, _metadata, then the first data file") {
    val src = tmp("footer-src")
    def fileWith(column: String): java.nio.file.Path = {
      spark.range(1).select(col("id").as(column)).coalesce(1)
        .write.parquet(s"$src/$column")
      Files.list(Paths.get(s"$src/$column")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
    }
    val table = Paths.get(tmp("footer-choice"), "t.parquet")
    Files.createDirectories(table)
    def place(column: String, name: String): Unit =
      Files.copy(fileWith(column), table.resolve(name), StandardCopyOption.REPLACE_EXISTING): Unit
    def check(column: String): Unit = {
      val expected = spark.read.parquet(table.toString).schema
      assert(expected.fieldNames.toSeq == Seq(column), "fixture: Spark's own choice")
      assert(jobsOf(GraftParquetSchema.footerSchema(spark, Seq(table.toString))) == 0)
      assert(GraftParquetSchema.footerSchema(spark, Seq(table.toString)).contains(expected))
    }
    place("second", "part-1.parquet")
    place("first", "part-0.parquet")
    check("first")
    place("meta", "_metadata")
    check("meta")
    place("common", "_common_metadata")
    check("common")
  }

  test("a partitioned layout, and a session with mergeSchema on, get Spark's own schema") {
    val dir = tmp("footer-merge")
    spark.range(3).select(col("id").as("a")).write.parquet(s"$dir/m.parquet/p=0")
    spark.range(3).select(col("id").as("b")).write.parquet(s"$dir/m.parquet/p=1")
    assert(GraftParquetSchema.footerSchema(spark, Seq(s"$dir/m.parquet")).isEmpty)
    assert(Tables.t(spark, dir, "m").schema == spark.read.parquet(s"$dir/m.parquet").schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val expected = spark.read.parquet(s"$dir/m.parquet").schema
      assert(Set("a", "b").subsetOf(expected.fieldNames.toSet), expected)
      assert(Tables.t(spark, dir, "m").schema == expected)
      assert(GraftParquetSchema.footerSchema(spark, Seq(s"$dir/m.parquet")).isEmpty)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("an empty directory still throws Spark's UNABLE_TO_INFER_SCHEMA") {
    val dir = tmp("footer-empty")
    Files.createDirectories(Paths.get(dir, "e.parquet"))
    val spark0 = intercept[AnalysisException](spark.read.parquet(s"$dir/e.parquet"))
    val ours = intercept[AnalysisException](Tables.t(spark, dir, "e"))
    assert(spark0.getCondition == "UNABLE_TO_INFER_SCHEMA")
    assert(ours.getCondition == spark0.getCondition)
    assert(ours.getMessage == spark0.getMessage)
  }

  test("a pre-schema manifest table resolves its footer schema with no job") {
    val dir = tmp("footer-manifest")
    spark.range(4).select(col("id").as("k"), lit("v").as("s"))
      .write.parquet(s"$dir/d1")
    // Spark touches the path-first data file, d0's, not the first root's
    spark.range(4, 8).select(col("id").as("k"), lit("w").as("s"), lit(1.5).as("x"))
      .write.parquet(s"$dir/d0")
    ManifestTable.commit(spark, dir, Seq("d1", "d0"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestTable.snapshotOf(fs, dir, ManifestTable.headVersion(spark, dir).get)
    assert(snap.declared.isEmpty, "fixture: the commit declares no schema")
    val expected = spark.read.parquet(s"$dir/d1", s"$dir/d0").schema
    assert(jobsOf(ManifestTable.schemaAt(spark, dir, snap)) == 0)
    assert(expected.fieldNames.toSeq == Seq("k", "s", "x"), expected)
    assert(ManifestTable.schemaAt(spark, dir, snap) == expected)
  }
}
