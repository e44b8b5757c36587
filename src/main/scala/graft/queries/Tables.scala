package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.HexFormat

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fixtures.CorpusGen

/** The input catalog: every scale-factor table an operator, tool or
  * fixture reads comes through here, so `<sfDir>/<table>.parquet` is
  * spelled in exactly one place. A read is a plain parquet scan — no
  * declared schema, no caching, no option. A relation shared across
  * queries is persisted in the Spark session (see [[DedupQ]]'s MinHash
  * signature), never memoized here. */
object Tables {

  def path(dir: String, table: String): String = s"$dir/$table.parquet"

  def read(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.parquet(path(dir, table))

  def documents(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")

  /** An oracle statement as Spark runs it: the same SQL without its
    * trailing top-level `ORDER BY`, which the row-set compare never
    * reads and which would cost a range exchange and a sort. */
  def unordered(sql: String): String = sql.replaceFirst("\\s+ORDER BY [\\w, ]+$", "")

  /** MD5 of a table's files (name, length, mtime), from a driver-side
    * listing that runs no job: a table rewritten under the same path
    * gets a new value. What is derived from a table and kept past one
    * query (the MinHash memo, the pre-split layout) is keyed on it. */
  def listing(s: SparkSession, dir: String, table: String): String = {
    val path = new org.apache.hadoop.fs.Path(Tables.path(dir, table))
    val it = path.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(path, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}").toSeq.sorted
    md5Hex(files.mkString("\n"))
  }

  def md5Hex(x: String): String =
    HexFormat.of().formatHex(MessageDigest.getInstance("MD5").digest(x.getBytes(UTF_8)))

  /** The materialized pre-split layout of the scale dir's corpus
    * ([[CorpusGen.materializedPreSplit]], built on first use). */
  def preSplit(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(CorpusGen.materializedPreSplit(s, dir))
}
