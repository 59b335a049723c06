package graft.engine

import java.io.InputStream

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small metadata documents beside the data (`catalog.json`,
  * `acl.json`), read and written on the driver through the warehouse's
  * Hadoop FileSystem: no Spark job touches them.
  */
object JsonDoc {

  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** None if there is no document; a corrupt one throws (reading it as
    * empty would let the next write overwrite it).
    */
  def read[T](spark: SparkSession, path: String)(parse: InputStream => T): Option[T] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(parse(in)) finally in.close()
    }
  }

  /** Write-then-swap: a crash mid-write leaves the previous document. */
  def write(spark: SparkSession, path: String, doc: AnyRef): Unit = {
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(doc)
    val dst = new Path(path)
    val tmp = new Path(path + "_tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.rename(tmp, dst)
  }
}
