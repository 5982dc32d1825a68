package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Index-sizing statistics without a table scan. The ANN/clustering
  * family (q37/q38/q217/q258 and the q42/q259/q260 k-means queries)
  * sizes its cell grid from the corpus row count; a `df.count()` there
  * costs one full extra scan per query invocation — parallel, but at
  * 100 TB it is a scan of 100 TB whose only output is one number that
  * parquet already stores. Parquet footers carry the EXACT row count
  * per file (`ParquetFileReader.getRecordCount` sums block row counts
  * — metadata, not data), so the same number comes from reading a few
  * KB of footer per file.
  *
  * Two layers:
  *  1. Footer reads instead of a scan job. Driver-side for small file
  *     sets; beyond [[DistributeThreshold]] files the footer reads run
  *     as a Spark job over the file list (each task reads only footer
  *     bytes), so a million-file corpus still sizes its index in one
  *     metadata-weight job.
  *  2. A driver-side cache keyed by the file listing's fingerprint
  *     (path, length, mtime of every data file). Re-invocations — a
  *     bench pass re-running 260 queries, a Verify sweep, repeated ANN
  *     queries over one corpus — reuse the number without touching
  *     storage; a regenerated/overwritten table changes the
  *     fingerprint and re-reads footers. The cache holds one Long per
  *     distinct table, so it cannot grow meaningfully.
  *
  * The count is EXACT (footer metadata equals scan count by the
  * parquet spec), so oracle agreement is unaffected: the DuckDB replay
  * computes its own COUNT(*) and lands on the same integer.
  */
object CorpusStats {

  /** Above this many data files, footer reads run as a Spark job. */
  private[graft] val DistributeThreshold = 256

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Exact row count of the parquet table at `sfDir/<name>.parquet` —
    * footers + cache, never a scan job. Drop-in for
    * `Tables.table(s, d, name).count()` at index-sizing sites.
    */
  def tableRows(spark: SparkSession, sfDir: String, name: String): Long =
    parquetRows(spark, s"$sfDir/$name.parquet")

  /** Exact row count of any parquet file/directory. */
  def parquetRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // One listStatus per directory, not listFiles(recursive): without
    // native Hadoop that forks an `ls` per file for its permissions.
    def walk(dir: Path): Iterator[FileStatus] =
      fs.listStatus(dir).iterator.flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator(st))
    // data files only — skip _SUCCESS/_metadata/.crc and hidden dirs
    val files = walk(p)
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .toVector
      .sortBy(_.getPath.toString)
    val fingerprint = files
      .map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
      .mkString("\n")
    val key = s"${fs.getUri}$path#${fingerprint.hashCode}#${files.size}"
    cache.computeIfAbsent(
      key,
      { _ =>
        val paths = files.map(_.getPath.toString)
        val total =
          if (paths.size <= DistributeThreshold) {
            paths.iterator.map(s => footerCount(conf, s)).sum
          } else {
            val confFactory =
              org.apache.spark.sql.graftshim.ConfShim.confFactory(conf)
            val slices = math.min(paths.size, 2048)
            spark.sparkContext
              .parallelize(paths, slices)
              .map(s => footerCount(confFactory(), s))
              .sum()
              .toLong
          }
        java.lang.Long.valueOf(total)
      })
      .longValue()
  }

  /** One file's exact record count from its footer (KB of IO). */
  private def footerCount(conf: org.apache.hadoop.conf.Configuration, file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount
    finally r.close()
  }
}
