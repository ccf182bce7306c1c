package graft.storage

import java.io.{InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One driver-side JSON artifact of a table, `<table>_<name>.json`,
  * holding a value of `T` through the json4s codec derived from its case
  * classes (a sealed family needs its subclasses named in the type hints
  * of `formats`). The file is a SIBLING of the table directory, never
  * inside it: writing it must not move the directory's modification time
  * (the [[ParquetMeta]] memo key) or the table's listed bytes.
  *
  * The value is cached on this instance once read or written, so a warm
  * `get` touches neither the filesystem nor Spark. Once it holds a
  * value, this instance does not see another instance's later `put` —
  * the same single-writer discipline as the table commit itself. */
final class Sidecar[T <: AnyRef: Manifest](spark: SparkSession, table: String,
    name: String, formats: Formats = DefaultFormats) {

  val path = new Path(s"${table}_$name.json")

  private implicit val codec: Formats = formats

  private var cached: Option[T] = None

  private def fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The stored value; `None` when the file does not exist. */
  def get: Option[T] = cached.orElse {
    if (fs.exists(path)) {
      val in = new InputStreamReader(fs.open(path), UTF_8)
      try cached = Some(Serialization.read[T](in)) finally in.close()
    }
    cached
  }

  /** Replace the stored value. */
  def put(value: T): Unit = {
    val out = new OutputStreamWriter(fs.create(path, true), UTF_8)
    try Serialization.write(value, out) finally out.close()
    cached = Some(value)
  }

  /** Delete the file; the next `get` answers `None`. */
  def drop(): Unit = {
    cached = None
    fs.delete(path, false)
    ()
  }
}
