package graft.state

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one way the program writes parquet outputs and opens parquet
  * inputs.
  *
  * Writes fork no process on a local path. Without the native
  * `libhadoop`, Hadoop's local file system forks `chmod` for every file
  * and directory a write makes (2.0 ms a fork on a 4-core host, ~280
  * forks in a `crawl_deep` pass); [[writer]] has the write's own Hadoop
  * conf select [[NioLocalFileSystem]] for `file:` paths, which sets the
  * same permission bits in-process. Other schemes, the session's conf
  * and the shared `FileSystem` cache are left as they are.
  *
  * Inputs open without a schema-inference job, the way an
  * Iceberg table's metadata carries its schema (`spark.read.parquet`
  * without a schema runs a one-task job that opens one footer, ~35-75 ms
  * of wall time per read; the driver reads the same footer in ~11 ms).
  *
  * The writer puts the DataFrame's schema next to the part files as
  * `_schema.json`; Spark's file index skips `_`-prefixed names, so the
  * sidecar is invisible to scans. The reader takes the schema from, in
  * order:
  *  1. the path-first directory's sidecar (every crawl state read);
  *  2. the footer of the input's path-first data file, read on the
  *     driver and converted exactly as Spark's inference converts it
  *     (the `org.apache.spark.sql.parquet.row.metadata` schema Spark
  *     writers store, else the parquet-to-Spark type converter) —
  *     catalog inputs and directories written without a sidecar;
  *  3. Spark's own inference, with its own schema and error messages,
  *     whenever it would do more than open that one footer: schema
  *     merging on, a subdirectory (partition directories), a glob, a
  *     `_metadata` summary file, a missing path, no data file or an
  *     unreadable footer.
  * Spark reads file sources with every field nullable either way, so
  * all three give one schema.
  */
object ParquetDir {

  val SchemaFile = "_schema.json"

  /** Per-write options Spark merges into the write job's Hadoop conf
    * (driver job setup, tasks and committer alike). The cache is off
    * because it is keyed by scheme, not class: a cached `file:` system
    * would be Hadoop's own. A session whose conf holds them writes its
    * own local files (a streaming checkpoint's) the same way.
    */
  val LocalWrites = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` whose local files are created without forking. */
  def writer(df: DataFrame): DataFrameWriter[Row] = df.write.options(LocalWrites)

  /** Overwrite `dir` with `df`, then write its schema sidecar (atomic:
    * a crash leaves no sidecar, never a torn one).
    */
  def write(df: DataFrame, dir: String): Unit = {
    writer(df).mode(SaveMode.Overwrite).parquet(dir)
    StateFiles.write(Paths.get(dir, SchemaFile), df.schema.json.getBytes(UTF_8))
  }

  /** Scan `paths` (parquet files or directories) as one parquet
    * relation. Inference without a schema reads the footer of the first
    * data file in path order, so the schema comes from the path-first
    * directory's sidecar, else from that file's footer.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val schema = StateFiles.read(Paths.get(paths.min, SchemaFile))
      .map(b => DataType.fromJson(new String(b, UTF_8)).asInstanceOf[StructType])
      .orElse(footerSchema(spark, paths))
    schema.fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
  }

  /** The schema Spark's inference reads from the path-first data file
    * of `paths`, or None where inference would do more than that.
    */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    def dataFiles(p: String): Seq[FileStatus] = {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val status = fs.getFileStatus(path)
      if (status.isFile) Seq(status)
      else fs.listStatus(path).toSeq.filter { s =>
        val n = s.getPath.getName
        !hidden(n) || n.startsWith("_metadata") || n.startsWith("_common_metadata")
      }
    }
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else Try(paths.flatMap(dataFiles)).toOption
      .filter(fs => fs.nonEmpty && fs.forall(s => s.isFile && !hidden(s.getPath.getName)))
      .flatMap { fs =>
        val first = fs.minBy(_.getPath.toString) // Spark's order: full path
        Try {
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf),
            HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
          try ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, reader.getFooter),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf))
          finally reader.close()
        }.toOption
      }
  }

  /** Names Spark's file index skips. It keeps the `_metadata` /
    * `_common_metadata` summary files although they match, and
    * inference reads those before any data file: a listing keeps them
    * too, so that they send the read to inference.
    */
  private def hidden(name: String): Boolean =
    name.startsWith("_") && !name.contains("=") || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
