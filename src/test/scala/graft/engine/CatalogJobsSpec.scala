package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.TestSpark
import java.nio.file.Files

/** Spark jobs the catalog's write paths start, counted by
  * `TestSpark.jobsOf`: a CSV ingest stores one all-text copy, and a
  * retype is a catalog commit that touches no data.
  */
class CatalogJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def res(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
  private def freshCatalog(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft-wh").toString)

  test("a CSV ingest runs at most 5 Spark jobs") {
    // header probe (`first`), inference `treeAggregate`, the text
    // write, and the row count (two jobs under AQE); the one-partition
    // fixture's zipWithIndex needs none. A second, typed write made it 6.
    val cat = freshCatalog()
    cat.ingest("warm", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val jobs = TestSpark.jobsOf("ingest") {
      cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    }
    info(s"jobs per CSV ingest: ${jobs.size}")
    assert(jobs.size <= 5, jobs)
  }

  test("setColumnType runs no Spark job") {
    val cat = freshCatalog()
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val jobs = TestSpark.jobsOf("retype")(cat.setColumnType("t", 1, 2, ColumnType.ColText))
    assert(jobs.isEmpty, jobs)
    assert(cat.entry("t", 1).colTypes(1) == "TEXT")
  }

  test("a view built before setColumnType still reads its own types") {
    val cat = freshCatalog()
    val e = cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    val before = cat.view(e)
    cat.setColumnType("t", 1, 2, ColumnType.ColText)
    assert(before.schema("int").dataType == IntegerType)
    assert(before.orderBy("ix").select("int").collect().map(_.getInt(0)).toSeq ==
      Seq(2, 7, -42, 123456789))
    assert(cat.view("t", 1).schema("int").dataType == StringType)
  }
}
