package graft.io

/** Canonical on-disk locations for derived indexes (the MinHash band
  * index, the IVF centroid index): content-addressed so distinct
  * sources can never alias and a REGENERATED source invalidates
  * naturally.
  *
  * The round-4 scheme keyed the path on `dir.hashCode` — a 32-bit
  * value shared JVM-wide, so (a) two different source dirs could
  * collide onto one index, and (b) regenerating the data UNDER a dir
  * inside a long-lived session silently reused the stale index. The
  * key here is an md5 over the FULL qualified source path, the
  * builder's parameters, and a file fingerprint (relative name, byte
  * size, mtime of every data file), so any of those changing yields a
  * fresh path, which [[StoredIndex]] then builds. The source is
  * qualified, listed and stat'ed through the active session's Hadoop
  * `FileSystem`, so non-local sources (hdfs, s3a, viewfs…) fingerprint
  * their content exactly like local ones. Deleting or tearing an index
  * dir needs no hook either: [[StoredIndex]] checks the commit markers
  * on every call.
  *
  * Root directory: `graft.index.root` system property, else the JVM
  * temp dir.
  */
object IndexPaths {

  def root: String =
    sys.props.getOrElse("graft.index.root", sys.props("java.io.tmpdir"))

  /** Hadoop configuration of the active (else default) session — the
    * one [[complete]] and the index writers resolve paths through. */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Stable fingerprint of a data file or directory-of-files: every
    * data file's (relative name, length, mtime). Missing source → "-",
    * so the path is still deterministic (the builder will fail loudly
    * on read instead). */
  def fingerprint(source: org.apache.hadoop.fs.Path): String = {
    val fs = source.getFileSystem(hadoopConf)
    if (!fs.exists(source)) "-"
    else {
      val st = fs.getFileStatus(source)
      val files =
        if (st.isFile) Seq(st)
        else fs.listStatus(source).toSeq.filter(_.isFile)
          .sortBy(_.getPath.getName)
      files.map(f =>
        s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .mkString(",")
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Whether the table at `path` is a COMPLETE committed write: the
    * `_SUCCESS` marker Spark's file committer drops after the last
    * task. A dir that exists without it is a torn write (build JVM
    * killed mid-job) — readers must treat it as absent and rebuild,
    * not silently read partial data. Checked through the Hadoop
    * FileSystem so non-local roots behave the same. */
  def complete(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Index path for `kind` (e.g. "bandidx", "ivf") derived from the
    * source file/dir at `sourcePath` and the builder parameter string.
    */
  def indexPath(kind: String, sourcePath: String, params: String): String = {
    val src = new org.apache.hadoop.fs.Path(sourcePath)
    val key = md5Hex(Seq(
      src.getFileSystem(hadoopConf).makeQualified(src).toString,
      params,
      fingerprint(src)).mkString("|"))
    s"$root/graft_${kind}_$key"
  }
}
