package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.BinaryIngest

/** Binary file-system ingestion, oracle-checked with the independent-
  * prediction pattern (like q_pdf_roundtrip): Spark materializes a
  * deterministic directory tree of page files (magic bytes + padding,
  * all derived from doc_id arithmetic), ingests it back through the
  * REAL `binaryFile` source, and reports what it saw — while DuckDB
  * predicts every row (doc, page count, detected type, byte length)
  * from the documents table alone. A broken source scan, path-ordering
  * bug, or magic-byte detector hash-mismatches. */
object IngestQ {

  private def magic(kind: Int): Array[Byte] = kind match {
    case 0 => Array(0xFF, 0xD8, 0xFF).map(_.toByte) // JPEG
    case 1 => Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte) // PNG
    case _ => Array(0x47, 0x49, 0x46).map(_.toByte) // GIF
  }

  /** Write the deterministic fixture tree: docs with
    * doc_id % 50 == 0 get (doc_id % 3) + 1 page files of
    * 64 + doc_id % 10 bytes each. Page files are zero-padded so the
    * lexicographic order the source must reproduce is the page order.
    * The root is DELETED first: an append-only tree would keep stale
    * docN directories from a previous testdata generation and the scan
    * would return rows the oracle does not predict. */
  private def writeFixture(s: SparkSession, dir: String, root: String): Unit = {
    val rootPath = Paths.get(root)
    if (Files.exists(rootPath)) {
      import scala.jdk.CollectionConverters._
      Files.walk(rootPath).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
    val docs = Tables.documents(s, dir)
      .select(col("doc_id")).filter(col("doc_id") % 50 === 0)
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    docs.foreach { id =>
      val d = Paths.get(root, s"doc$id")
      Files.createDirectories(d)
      (0 to (id % 3).toInt).foreach { p =>
        val m = magic(((id + p) % 3).toInt)
        val body = m ++ Array.fill((64 + id % 10).toInt - m.length)(0.toByte)
        Files.write(d.resolve(f"p$p%03d.bin"), body)
      }
    }
  }

  def qBinaryIngest(s: SparkSession, dir: String): DataFrame = {
    val sfName = Paths.get(dir).getFileName.toString
    val root = s"/tmp/graft_ingest_$sfName"
    writeFixture(s, dir, root)
    BinaryIngest.pages(s, root, glob = "*.bin")
      .select(col("doc_id"), col("page_idx"), col("media_type"), col("length"))
  }

  val qBinaryIngestSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
      |p AS (SELECT doc_id, CAST(i AS INT) AS page_idx
      |      FROM d, UNNEST(generate_series(0, CAST(doc_id % 3 AS INT))) u(i))
      |SELECT 'doc' || CAST(doc_id AS VARCHAR) AS doc_id, page_idx,
      |  CASE CAST((doc_id + page_idx) % 3 AS INT)
      |    WHEN 0 THEN 'JPEG' WHEN 1 THEN 'PNG' ELSE 'GIF' END AS media_type,
      |  CAST(64 + doc_id % 10 AS BIGINT) AS length
      |FROM p ORDER BY doc_id, page_idx""".stripMargin

  /** Multi-format sink/source parity: write the documents table through
    * the ORC, CSV and JSON(JSONL) sinks, read each back through the
    * matching source, and report per format: row count, id/char sums,
    * and a text-parity flag (exact string equality against the parquet
    * baseline, counted over a full outer join so BOTH dropped and
    * phantom rows surface). The oracle predicts every row from the
    * parquet table alone — a lossy writer (CSV quoting/escaping, JSON
    * string escapes), a schema drift, or a dropped row flips parity or
    * a sum and hash-mismatches. Scale shape: each format is a
    * distributed write + scan; the parity check is an equi-join on the
    * id; aggregates are partial. */
  def qFormatParity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val sfName = Paths.get(dir).getFileName.toString
    val root = s"/tmp/graft_fmt_$sfName"
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    base.write.mode("overwrite").orc(s"$root/orc")
    base.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").option("escape", "\"")
      .csv(s"$root/csv")
    base.write.mode("overwrite").json(s"$root/json")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    val readers = Seq(
      "csv" -> s.read.schema(schema)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(s"$root/csv"),
      "json" -> s.read.schema(schema).json(s"$root/json"),
      "orc" -> s.read.schema(schema).orc(s"$root/orc"))
    val b = base.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    readers.map { case (fmt, df) =>
      df.join(b, col("doc_id") === col("b_id"), "full")
        .agg(
          count(col("doc_id")).as("n_rows"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text"))).as("sum_chars"),
          sum(when(col("doc_id").isNull || col("b_id").isNull
            || !(col("text") <=> col("b_text")), 1L).otherwise(0L)).as("bad"))
        .select(lit(fmt).as("format"), col("n_rows"), col("sum_doc_id"),
          col("sum_chars"),
          when(col("bad") === 0, lit(1)).otherwise(lit(0)).as("parity"))
    }.reduce(_ unionAll _)
  }

  val qFormatParitySql: String =
    """WITH a AS (SELECT COUNT(*) AS n_rows,
      |                  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
      |                  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
      |           FROM documents)
      |SELECT f.format, a.n_rows, a.sum_doc_id, a.sum_chars, 1 AS parity
      |FROM a, (VALUES ('csv'), ('json'), ('orc')) AS f(format)
      |ORDER BY f.format""".stripMargin

  /** Corrupt-record QUARANTINE — the ingestion-reliability pattern: a
    * JSONL feed with malformed lines (planted for doc_id % 17 == 0:
    * unterminated string, missing brace) reads under PERMISSIVE mode
    * with a _corrupt_record column, valid rows flow through and broken
    * lines route to quarantine instead of failing the job (FAILFAST) or
    * vanishing silently (DROPMALFORMED). The oracle predicts the
    * valid/quarantined counts and the valid id sum from the documents
    * table alone — a reader that drops, double-counts, or mis-parses a
    * boundary line hash-mismatches. */
  def qCorruptQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val sfName = Paths.get(dir).getFileName.toString
    val root = s"/tmp/graft_quarantine_$sfName"
    Tables.documents(s, dir)
      .selectExpr(
        """CASE WHEN doc_id % 17 = 0
          | THEN concat('{"doc_id": ', CAST(doc_id AS STRING), ', "lang": "broken')
          | ELSE to_json(struct(doc_id, lang, source)) END AS value""".stripMargin)
      .write.mode("overwrite").text(root)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(root)
      .agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("_corrupt_record").isNull, col("doc_id")).otherwise(0L)).as("sum_valid_ids"))
  }

  val qCorruptQuarantineSql: String =
    """SELECT CAST(SUM(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
      |       CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
      |       CAST(SUM(CASE WHEN doc_id % 17 <> 0 THEN doc_id ELSE 0 END) AS BIGINT) AS sum_valid_ids
      |FROM documents""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_binary_ingest" -> ((qBinaryIngest _, Some(qBinaryIngestSql))),
    "q_format_parity" -> ((qFormatParity _, Some(qFormatParitySql))),
    "q_corrupt_quarantine" -> ((qCorruptQuarantine _, Some(qCorruptQuarantineSql))))
}
