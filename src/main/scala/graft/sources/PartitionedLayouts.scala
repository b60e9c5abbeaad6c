package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What the two partitioned layouts, [[TsLayout]] and [[EmbLayout]],
  * share: the marker file each writes into its root to record its own
  * geometry (bucket width, plane count), and the guard of their
  * compaction passes. Markers are underscore-prefixed, so parquet
  * listing ignores them.
  */
private[sources] object PartitionedLayouts {

  /** Cached marker reads, misses cached too: the optimizer asks on
    * every query. Keyed by (CANONICAL root, marker name), so a probe
    * via any alias of the same directory (trailing slash, relative
    * path, symlink) hits the entry [[writeMarker]] invalidates — a miss
    * cached under an alias would otherwise pin "markerless" against a
    * layout written later.
    */
  private val markers = scala.collection.concurrent.TrieMap[(String, String), Option[String]]()

  /** The trimmed contents of marker `name` under `rootPath`; None when
    * it is absent or unreadable.
    */
  def readMarker(rootPath: String, name: String, hadoopConf: Configuration): Option[String] =
    markers.getOrElseUpdate(
      (graft.Tables.canonDir(rootPath), name), {
        try {
          val marker = new Path(rootPath, name)
          val fs = marker.getFileSystem(hadoopConf)
          if (!fs.exists(marker)) None
          else {
            val in = fs.open(marker)
            val bytes =
              try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
              finally in.close()
            Some(new String(bytes, "UTF-8").trim)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    )

  /** Writes `value` into marker `name` under `path`. A rewrite with
    * another geometry must invalidate the cached read, so it does.
    */
  def writeMarker(spark: SparkSession, path: String, name: String, value: Long): Unit = {
    val marker = new Path(path, name)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(marker, true)
    try out.write(value.toString.getBytes("UTF-8"))
    finally out.close()
    markers.remove((graft.Tables.canonDir(path), name))
  }

  /** The overwrite of a compaction is lazy w.r.t. its read, so
    * compacting a layout onto itself (or into a dir nested under
    * itself, or the other way round) would truncate the layout being
    * read and destroy it.
    */
  def requireDisjoint(srcPath: String, dstPath: String): Unit = {
    val srcCanon = graft.Tables.canonDir(srcPath)
    val dstCanon = graft.Tables.canonDir(dstPath)
    require(
      srcCanon != dstCanon && !dstCanon.startsWith(srcCanon + java.io.File.separator) &&
        !srcCanon.startsWith(dstCanon + java.io.File.separator),
      s"compact src and dst must not coincide or nest either way " +
        s"(overwrite would truncate the layout being read): src=$srcCanon dst=$dstCanon"
    )
  }
}
