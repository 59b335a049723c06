package graft.engine

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Catalog metadata lives in `catalog.json` and is read and committed
  * on the driver: reads and metadata-only commits run no Spark job,
  * and every Catalog on a warehouse sees the others' commits.
  */
class CatalogMetadataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def res(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** Spark job ids started by `f`. The status tracker is fed
    * asynchronously, so a marker job runs after `f` in a group of its
    * own; once the marker is visible, every earlier job is too.
    */
  private def jobsOf(label: String)(f: => Any): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"catalog-metadata-$label-${System.nanoTime()}"
    sc.setJobGroup(group, label)
    try f finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reached the status tracker")
      Thread.sleep(10)
    }
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  test("entries, sqlNames, tag and setDeprecated run zero Spark jobs") {
    val cat = new Catalog(spark, Files.createTempDirectory("graft-wh").toString)
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    cat.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    // the marker harness does count jobs
    assert(jobsOf("control")(cat.view("t", 1).count()).nonEmpty)
    assert(jobsOf("entries")(cat.entries).isEmpty)
    assert(jobsOf("sqlNames")(cat.sqlNames).isEmpty)
    assert(jobsOf("tag")(cat.tag("t", 1, "alpha")).isEmpty)
    assert(jobsOf("setDeprecated")(cat.setDeprecated("t", 2, flag = true)).isEmpty)
    assert(cat.entries.sortBy(_.version).map(e => (e.tags, e.deprecated)) ==
      Seq((Seq("alpha"), true), (Seq.empty, true)))
  }

  test("a second Catalog on the same warehouse sees the first one's commits") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val a = new Catalog(spark, wh)
    val b = new Catalog(spark, wh)
    assert(b.entries.isEmpty)
    a.ingest("t", Ingest.csv(spark, res("typeinfer.csv")), "csv")
    assert(b.entries.map(e => (e.name, e.version)) == Seq(("t", 1)))
    a.tag("t", 1, "alpha")
    assert(b.entries.head.tags == Seq("alpha"))
    b.setDeprecated("t", 1, flag = true)
    assert(a.entries.head.deprecated)
    assert(b.sqlNames.keySet == a.sqlNames.keySet)
    a.delete("t")
    assert(b.entries.isEmpty)
  }
}
