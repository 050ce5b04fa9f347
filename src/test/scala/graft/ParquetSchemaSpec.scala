package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.core.Tables
import graft.ops.Staged

/** `Tables.parquet` infers a parquet file's schema once and reads every
  * later call with it. The reads it returns must be the plain
  * `spark.read.parquet` reads, schema and rows; a warm read must start no
  * Spark job; and a file rewritten in place must be inferred again. */
class ParquetSchemaSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  Tables.names.foreach { name =>
    test(s"Tables.load($name) gives the schema and rows of a plain parquet read") {
      val plain = {
        val df = spark.read.parquet(s"$dir/$name.parquet")
        if (name == "events") Tables.normalizeEvents(df) else df
      }
      // Loaded twice, so the second read is the one built from the cache.
      Tables.load(spark, dir, name)
      val loaded = Tables.load(spark, dir, name)
      assert(loaded.schema.treeString === plain.schema.treeString)
      // StructField equality covers nullability and field metadata.
      assert(loaded.schema === plain.schema)
      assert(loaded.collect().map(_.toString).sorted.toSeq ===
        plain.collect().map(_.toString).sorted.toSeq)
    }
  }

  test("a second Tables.load of a table starts no Spark job") {
    Tables.load(spark, dir, "orders")
    assert(jobsStartedBy(Tables.load(spark, dir, "orders").schema) === 0)
  }

  test("a parquet file rewritten at the same path comes back with its new schema") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-schema").toFile
    try {
      val file = new java.io.File(tmp, "t.parquet")
      def writeFile(df: org.apache.spark.sql.DataFrame): Unit = {
        val out = new java.io.File(tmp, "_out")
        df.coalesce(1).write.mode("overwrite").parquet(out.getPath)
        val part = out.listFiles().find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
      }
      writeFile(Seq((1L, "a")).toDF("id", "name"))
      assert(Tables.parquet(spark, file.getPath).columns.toSeq === Seq("id", "name"))
      writeFile(Seq((2.5, 3, true)).toDF("x", "y", "z"))
      val back = Tables.parquet(spark, file.getPath)
      assert(back.columns.toSeq === Seq("x", "y", "z"))
      assert(back.collect().map(_.toString).toSeq === Seq("[2.5,3,true]"))
      // A directory's version is the files under it.
      val table = new java.io.File(tmp, "table").getPath
      Seq((1L, "a")).toDF("id", "name").write.parquet(table)
      assert(Tables.parquet(spark, table).columns.toSeq === Seq("id", "name"))
      Seq(Tuple1(7)).toDF("k").write.mode("overwrite").parquet(table)
      assert(Tables.parquet(spark, table).columns.toSeq === Seq("k"))
    } finally Staged.deleteRecursively(tmp)
  }
}
