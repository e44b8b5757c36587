package graft.queries

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

  /** The materialized pre-split layout of the scale dir's corpus
    * ([[CorpusGen.materializedPreSplit]], built on first use). */
  def preSplit(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(CorpusGen.materializedPreSplit(s, dir))
}
