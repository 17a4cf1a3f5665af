package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet tables read with their schema inferred once per session.
  *
  * A schemaless `read.parquet(path)` infers the schema from the file
  * footers in a Spark job (`ParquetFileFormat.mergeSchemasInParallel`),
  * even for a single file with `mergeSchema` off: 107–123 ms a read,
  * against 12.5–14.9 ms with the schema given (median of 30 reads of the
  * sf0.1 `documents` file in a warm JVM, 4 vCPUs, four JVMs). Every query paid that
  * job again for every table it read.
  *
  * [[read]] keeps each inferred `StructType` for the session, keyed by
  *  - the table's files: the qualified path, length and modification time
  *    of the file, or of every leaf file under a directory, so a table
  *    rewritten in place (new part files, another length or mtime) is
  *    inferred again;
  *  - the session's `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
  *    settings, which change what inference returns (`binaryAsString`,
  *    `int96AsTimestamp`, `mergeSchema`, ...).
  * A miss is the plain `read.parquet(path)`; a hit reads with the kept
  * schema, which lists the files and runs no job. A path that cannot be
  * listed is read plainly and not kept, so it fails as it always did.
  */
object Tables {

  private final case class Key(files: Seq[(String, Long, Long)], settings: Map[String, String])

  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, StructType]]())

  def read(s: SparkSession, path: String): DataFrame = {
    val key = keyOf(s, path)
    key.flatMap(k => Option(cacheOf(s).get(k))) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None =>
        val df = s.read.parquet(path)
        key.foreach(cacheOf(s).put(_, df.schema))
        df
    }
  }

  private def cacheOf(s: SparkSession): ConcurrentHashMap[Key, StructType] =
    schemas.computeIfAbsent(s, _ => new ConcurrentHashMap[Key, StructType]())

  private def keyOf(s: SparkSession, path: String): Option[Key] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        files += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      val settings = s.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }
      Some(Key(files.result().sortBy(_._1), settings))
    } catch {
      case _: java.io.IOException => None
    }
}
