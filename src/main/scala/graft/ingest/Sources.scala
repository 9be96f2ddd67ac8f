package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.{CodingErrorAction, StandardCharsets}

/** File-corpus ingest: the Spark-native form of the reference's
  * recursive scan + indexability sniff + multi-encoding decode
  * (log-vector `index.py:218-272,357-367`).
  *
  * Physical shape: `binaryFile` scan → cheap metadata predicates
  * (path regex, length — evaluated WITHOUT reading file content,
  * binaryFile prunes the `content` column) → 8 KB sniff → decode.
  * That ordering reproduces the reference's scan-avoidance (size
  * check → 8 KB sniff → full read, `index.py:222,231,361`) and at
  * cluster scale keeps the expensive content read off rejected
  * files.
  */
object Sources {

  /** Directory components pruned by the reference scan
    * (`index.py:258-259`). */
  val PrunedDirs: Seq[String] = Seq(
    ".git", "__pycache__", "node_modules", ".env", "venv", "env",
    ".venv", "target", "build", "dist", ".svn", ".hg", ".idea", ".vscode")

  private val pruneRegex: String =
    PrunedDirs.map(java.util.regex.Pattern.quote).mkString("(", "|", ")/")

  val MaxFileBytes: Long = 100L * 1024 * 1024 // index.py:222
  val SniffBytes: Int = 8192                  // index.py:231

  /** Recursive scan with directory pruning (S1) and size gate (S2).
    * Prunes only below `dir`, like [[listUnpruned]], so a corpus under
    * `build/` still indexes. Output: path, modificationTime, length, content. */
  def scan(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val rootPath = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .filter(!col("path").rlike(java.util.regex.Pattern.quote(rootPath) + "(.*/)?" + pruneRegex))
      .filter(col("length") > 0 && col("length") <= MaxFileBytes)
  }

  /** Text-vs-binary sniff on the first 8 KB: reject if a NUL byte is
    * present (`index.py:236-237`). The reference's 4-encoding decode
    * probe is intentionally NOT replicated here: latin1/iso-8859-1
    * accept every byte string, so the NUL test is the only effective
    * predicate (SURVEY quirk Q2). */
  private val sniffUdf = udf { (content: Array[Byte]) =>
    if (content == null) false
    else {
      val n = math.min(content.length, SniffBytes)
      var i = 0
      var ok = true
      while (ok && i < n) { if (content(i) == 0) ok = false; i += 1 }
      ok
    }
  }

  /** Multi-encoding decode cascade (S3, `index.py:357-367`): strict
    * UTF-8 first, then latin1 — which is total over bytes, making
    * the reference's cp1252/iso-8859-1 fallbacks unreachable. */
  def decodeBytes(content: Array[Byte]): String = {
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      dec.decode(java.nio.ByteBuffer.wrap(content)).toString
    } catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(content, StandardCharsets.ISO_8859_1)
    }
  }

  private val decodeUdf = udf { (content: Array[Byte]) =>
    if (content == null) null else decodeBytes(content)
  }

  /** Structured-log ingest: JSON-lines files under `dir`. Explicit
    * schema keeps a single pass — inference would double-read a
    * large corpus. Pruned directories are excluded at LISTING time
    * (pathGlobFilter can't express a deny-list, so the pruned file
    * set is resolved up front and passed as explicit paths — files
    * under node_modules/.git/… are never opened, matching the text
    * scan's scan-avoidance). */
  def readJsonLines(
      spark: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val reader = spark.read.schema(schema)
    val paths = listUnpruned(spark, dir)
    (if (paths.isEmpty) reader.json(spark.emptyDataset[String](org.apache.spark.sql.Encoders.STRING))
     else reader.json(paths: _*))
      .withColumn("source", input_file_name())
  }

  /** CSV log ingest with header row; same listing-time pruning and
    * explicit-schema rules as [[readJsonLines]]. */
  def readCsvLogs(
      spark: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val paths = listUnpruned(spark, dir)
    spark.read.schema(schema)
      .option("header", "true")
      .csv(paths: _*)
      .withColumn("source", input_file_name())
  }

  /** XML log ingest (Spark 4 built-in `xml` source): one row per
    * `rowTag` element, explicit schema, same listing-time pruning as
    * [[readJsonLines]]. Covers the export format appliance/audit
    * logs still arrive in. */
  def readXmlLogs(
      spark: SparkSession,
      dir: String,
      rowTag: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val paths = listUnpruned(spark, dir)
    spark.read.schema(schema)
      .option("rowTag", rowTag)
      .format("xml")
      .load(paths: _*)
      .withColumn("source", input_file_name())
  }

  /** Recursive file listing with directory pruning applied during
    * the walk (pruned subtrees are never descended into). */
  private def listUnpruned(spark: SparkSession, dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) {
          if (!PrunedDirs.contains(st.getPath.getName)) walk(st.getPath)
        } else out += st.getPath.toString
      }
    if (fs.exists(root)) walk(root)
    out.toSeq.sorted
  }

  /** PDF text extraction (S4, `index.py:275-295`): dependency-free
    * extractor for text-based PDFs; null = nothing extractable,
    * which drops the file exactly like the reference's None path
    * (`index.py:351-355`). */
  private val pdfUdf = udf { (content: Array[Byte]) =>
    if (content == null) null else Pdf.extractText(content).orNull
  }

  /** Full ingest: scan → suffix dispatch → sniff filter (text) or
    * extraction (PDF) → `(source, content)` with `source` = path
    * relative to `dir` (reference keeps relpath as metadata key,
    * `index.py:375`). PDFs are accepted BY SUFFIX before the binary
    * sniff, mirroring `is_indexable_file`'s early `.pdf` accept
    * (`index.py:226-227`); unextractable ones drop out on the final
    * null filter. */
  /** File URI → path relative to the ingest root `dir` (the
    * reference's metadata key, `index.py:375`). Normalizes the
    * `file:` scheme's slash count first so `binaryFile`'s `path`
    * (`file:/…`) and `input_file_name()` (`file:///…`) relativize
    * identically: both forms MUST produce the same source key for
    * the same file. */
  def relativeSource(pathCol: org.apache.spark.sql.Column, dir: String): org.apache.spark.sql.Column = {
    val root = dir.stripSuffix("/") + "/"
    regexp_replace(
      regexp_replace(pathCol, "^file:/+", "/"),
      "^" + java.util.regex.Pattern.quote(root), "")
  }

  def readTextFiles(spark: SparkSession, dir: String): DataFrame = {
    val isPdf = lower(col("path")).endsWith(".pdf")
    scan(spark, dir)
      .filter(isPdf || sniffUdf(col("content")))
      .select(
        relativeSource(col("path"), dir).as("source"),
        when(isPdf, pdfUdf(col("content")))
          .otherwise(decodeUdf(col("content"))).as("content"))
      .filter(col("content").isNotNull)
  }
}
