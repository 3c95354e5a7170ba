package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** Feather / Arrow IPC (pandas `read_feather`/`to_feather`,
  * io/feather_format.py:36/83) as a distributed source/sink over
  * `.arrows` STREAM files — the same IPC format Feather V2 wraps, in
  * its streaming flavor, and the wire format Spark itself uses for
  * pandas interchange. Unlike the byte-level interchange codecs in
  * this package ([[StataDta]]/[[SpssSav]]/...), the encode/decode here
  * IS Spark's own Arrow conversion, bridged per task
  * ([[GraftSqlBridge.writeArrowStream]]/`readArrowStream` over
  * `ArrowConverters`) — so types round-trip exactly as Spark's pandas
  * interchange maps them, binary-typed (no stringly cast-back).
  *
  * Distributed shape is the package's [[ChunkFiles]]: one capped
  * self-contained stream file per partition chunk on write (each
  * carries its own schema message + record batches + end-of-stream),
  * one file per task on read.
  */
object ArrowStream {

  /** Record batches inside a file cap at this many rows, which also
    * bounds per-task conversion memory. */
  val rowsPerBatch = 8192L

  /** Write df as `.arrows` IPC stream files under `path` (overwrite
    * semantics), ≤ `cap` rows each, parallel across partitions. An
    * empty frame writes one schema-only stream (zero batches + EOS is
    * a valid IPC stream). */
  def write(df: DataFrame, path: String, cap: Int = ChunkFiles.rowsPerFile): Unit = {
    val schema = df.schema
    ChunkFiles.write(df, path, "arrows", cap) { (rows, o) =>
      GraftSqlBridge.writeArrowStream(rows.iterator, schema, rowsPerBatch, o)
    }
  }

  /** Parse every `.arrows` file under `path` (one per task). The
    * schema comes from the first file's stream HEADER: the IPC schema
    * message is the stream's first bytes, so the driver reads only
    * those ([[GraftSqlBridge.arrowSchemaFromHeader]]). */
  def read(s: SparkSession, path: String): DataFrame =
    ChunkFiles.read(s, path, "arrows")(GraftSqlBridge.arrowSchemaFromHeader)(
      (bytes, _) => GraftSqlBridge.readArrowStream(bytes)._1)
}
