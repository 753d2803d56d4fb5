package graft

import graft.io.IndexPaths

class IndexPathsSpec extends SparkSpec {

  test("distinct source dirs map to distinct index paths") {
    val a = IndexPaths.indexPath("bandidx",
      "/root/testdata/sf0.001/documents.parquet", "n3h64b16")
    val b = IndexPaths.indexPath("bandidx",
      "/root/testdata/sf0.01/documents.parquet", "n3h64b16")
    assert(a != b, "two sfDirs must never alias one index")
    // parameter changes also re-key
    val c = IndexPaths.indexPath("bandidx",
      "/root/testdata/sf0.001/documents.parquet", "n5h64b16")
    assert(a != c)
    // deterministic for a fixed (source, params, content)
    assert(a == IndexPaths.indexPath("bandidx",
      "/root/testdata/sf0.001/documents.parquet", "n3h64b16"))
  }

  test("regenerated source content re-keys the path (stale-index guard)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idxpaths")
    val f = dir.resolve("data.parquet").toFile
    val w = new java.io.PrintWriter(f); w.print("v1"); w.close()
    f.setLastModified(1000000000000L)
    val before = IndexPaths.indexPath("ivf", f.toString, "c16")
    // same path, new content + mtime — the fingerprint must differ
    val w2 = new java.io.PrintWriter(f); w2.print("regenerated"); w2.close()
    f.setLastModified(1700000000000L)
    val after = IndexPaths.indexPath("ivf", f.toString, "c16")
    assert(before != after,
      "rewriting the source under the same path must yield a fresh index path")
  }

  test("a non-local source fingerprints through the session's FileSystem") {
    // a viewfs mount over a temp dir: the source is reachable only
    // through Hadoop, so a java.io.File view sees nothing and would
    // key both versions identically (the stale-index bug)
    val dir = java.nio.file.Files.createTempDirectory("graft_idxpaths_viewfs")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.viewfs.mounttable.graftidx.link./data", dir.toUri.toString)
    val f = dir.resolve("data.parquet").toFile
    val src = "viewfs://graftidx/data/data.parquet"
    val w = new java.io.PrintWriter(f); w.print("v1"); w.close()
    f.setLastModified(1000000000000L)
    val before = IndexPaths.indexPath("ivf", src, "c16")
    val w2 = new java.io.PrintWriter(f); w2.print("regenerated"); w2.close()
    f.setLastModified(1700000000000L)
    val after = IndexPaths.indexPath("ivf", src, "c16")
    assert(before != after,
      "rewriting a non-local source must yield a fresh index path")
  }
}
