package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Download/export (SURVEY.md I16/I17): CSV with an RFC-4180-escaped
  * header row (reference Download.hs:47-139, CopyTo.hs:79-103) and JSON
  * (ROW_TO_JSON wrap, DB/UserQuery.hs:40-47; raw multi-value passthrough
  * for JSON sources, Download.hs:94-113).
  */
object Export {

  /** Distributed CSV export — quoting only where needed, like COPY CSV. */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(path)

  private def escape(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** CSV record lines (header first), one partition in driver memory at
    * a time via toLocalIterator — the streaming-response shape: an HTTP
    * handler writes each line out as it is produced instead of
    * buffering the result (reference Server/Servant/Conduit.hs).
    */
  def csvLines(df: DataFrame): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    Iterator.single(df.columns.map(escape).mkString(",")) ++
      df.toLocalIterator().asScala.map { r =>
        (0 until r.length).map(i =>
          escape(if (r.isNullAt(i)) null else r.get(i).toString)).mkString(",")
      }
  }

  /** Driver-side CSV string (for tests and small results). */
  def csvString(df: DataFrame): String =
    csvLines(df).mkString("", "\n", "\n")

  /** JSON-lines export (one object per row). */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Raw multi-value JSON passthrough for JSON sources: the stored c1
    * strings as lines in ix order, one partition in driver memory at a
    * time like csvLines (byte-roundtrip property, runtests.sh:160-168).
    */
  def jsonRaw(df: DataFrame): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    // first non-ix column: "c1" on the untyped frame, the friendly
    // name on a registered view (HttpApi downloads pass the view —
    // hardcoding c1 500'd every JSON download over HTTP)
    val valueCol = df.columns.find(_ != "ix")
      .getOrElse(throw new IllegalArgumentException("no value column"))
    df.orderBy("ix").select(valueCol).toLocalIterator().asScala
      .map(r => String.valueOf(r.getString(0)))
  }
}
