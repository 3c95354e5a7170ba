package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileNotFoundException, InputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The distributed shape every interchange format in this package
  * shares ([[Xlsx]], [[StataDta]], [[SpssSav]], [[SasXport]],
  * [[HtmlTable]], [[ArrowStream]]); each format supplies only its byte
  * codec.
  *
  *  - WRITE: a directory of self-contained chunk files, one per
  *    `grouped(cap)` chunk of each partition, named
  *    `part-<partition>-<chunk>.<ext>` and written in parallel. A task
  *    holds at most `cap` rows. An empty frame writes one
  *    `part-empty-0.<ext>` so that the read restores the schema.
  *  - READ: the schema comes from the first `*.<ext>` file, opened by
  *    name on the driver (no Spark job); rows are parsed one file per
  *    task via `binaryFile`, which hands each task one file as one
  *    byte array.
  */
private[sources] object ChunkFiles {

  /** Max rows per chunk file. `binaryFile` materializes each file as
    * ONE byte array, so 2 GB (the JVM array max) is a structural limit
    * of the read path; 65,536 rows of any sane row width stays orders
    * of magnitude below it, and keeps each per-task read cheap. */
  val rowsPerFile = 65536

  /** Write `df` under `path` (overwrite semantics) as chunk files of
    * at most `cap` rows; `chunk` encodes one chunk onto the file's
    * buffered stream, which is opened and closed here.
    *
    * Chunks are staged under `path/_temporary` (which reads skip) and
    * moved into `path` only after every task has succeeded, so a failed
    * write leaves no chunk file behind and a read of it raises rather
    * than returning a subset of the rows. */
  def write(df: DataFrame, path: String, ext: String, cap: Int)(
      chunk: (Seq[Row], OutputStream) => Unit): Unit = {
    val sc = df.sparkSession.sparkContext
    val p = new Path(path)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val stage = new Path(p, "_temporary")
    fs.mkdirs(stage)
    // hadoopConfiguration is driver-side only; ship it to tasks the
    // supported way (Configuration is a Writable) so the sink works
    // against HDFS/object stores, not just file:// in local mode
    val confB = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    try {
      val written = df.rdd.mapPartitionsWithIndex { (pid, it) =>
        val conf = confB.value.value
        it.grouped(cap).zipWithIndex.map { case (rows, ci) =>
          emit(new Path(stage, f"part-$pid%05d-$ci.$ext"), conf, rows, chunk)
          1
        }
      }.count()
      if (written == 0L)
        emit(new Path(stage, s"part-empty-0.$ext"), sc.hadoopConfiguration, Seq.empty, chunk)
      fs.listStatus(stage).map(_.getPath).filter(_.getName.endsWith(s".$ext"))
        .foreach { f =>
          if (!fs.rename(f, new Path(p, f.getName)))
            throw new java.io.IOException(s"could not move $f into $path")
        }
    } finally fs.delete(stage, true)
  }

  /** Encode one chunk to `file`. Each attempt writes a name of its own
    * and renames it to `file` only once the stream is closed, so a
    * failed or speculative attempt never leaves a truncated `file`. */
  private def emit(file: Path, conf: Configuration, rows: Seq[Row],
      chunk: (Seq[Row], OutputStream) => Unit): Unit = {
    val fs = file.getFileSystem(conf)
    val tmp = file.suffix("." + java.util.UUID.randomUUID)
    try {
      val o = new BufferedOutputStream(fs.create(tmp, false), 1 << 16)
      try chunk(rows, o) finally o.close()
      fs.rename(tmp, file) // false when a twin attempt renamed first
    } finally fs.delete(tmp, false)
  }

  /** Read every `*.<ext>` chunk file under `path`. `schemaOf` reads
    * the schema from the first file's stream on the driver (all chunks
    * share it by construction); `rows` parses one file's bytes per
    * task, given that schema. */
  def read(s: SparkSession, path: String, ext: String)(schemaOf: InputStream => StructType)(
      rows: (Array[Byte], StructType) => Iterator[Row]): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val first = Option(fs.globStatus(new Path(p, s"*.$ext"))).toSeq.flatten
      .map(_.getPath).sortBy(_.getName).headOption.getOrElse(
        throw new FileNotFoundException(s"no .$ext files under $path"))
    val in = new BufferedInputStream(fs.open(first), 1 << 16)
    val schema = try schemaOf(in) finally in.close()
    val parsed = s.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext").load(path)
      .select("content").rdd.flatMap(r => rows(r.getAs[Array[Byte]](0), schema))
    s.createDataFrame(parsed, schema)
  }
}
