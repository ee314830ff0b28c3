package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Content stamp of a file or directory tree: FNV-1a over the sorted
  * (relative path, length, modification time) of every file under `path`,
  * listed recursively through the Hadoop `FileSystem` of the session (local,
  * HDFS, S3, … alike). A table rewritten at the same path — including one
  * hive-partitioned into `key=value/` subdirectories — gets a new stamp, so
  * anything keyed by the stamp (parquet-plan memos, scratch dirs) is rebuilt
  * instead of served stale. A missing path stamps as the FNV offset basis.
  */
object ContentStamp {

  /** 64-bit FNV-1a of `bytes`, continuing from `h` (the offset basis by
    * default), so a hash can be fed in pieces. */
  def fnv1a(bytes: Array[Byte], h: Long = 0xcbf29ce484222325L): Long = {
    var x = h
    var i = 0
    while (i < bytes.length) { x ^= bytes(i) & 0xffL; x *= 0x100000001b3L; i += 1 }
    x
  }

  def apply(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = if (!fs.exists(p)) Array.emptyByteArray else {
      val root = fs.makeQualified(p).toString
      val files = ArrayBuffer.empty[String]
      // listStatus, not listFiles: listFiles builds LocatedFileStatus, which
      // loads permissions — ~200× slower per call on the local file system
      // (9 ms vs 0.045 ms, measured on a 4-vCPU host)
      def walk(f: FileStatus): Unit =
        if (f.isDirectory) fs.listStatus(f.getPath).foreach(walk)
        else files += s"${f.getPath.toString.stripPrefix(root)}:${f.getLen}:${f.getModificationTime}"
      walk(fs.getFileStatus(p))
      files.sorted.mkString("\n").getBytes("UTF-8")
    }
    f"${fnv1a(listing)}%016x"
  }
}
