package graft.tools

import graft.functions.Bpe

/** One-time generator for the vendored BPE merges table
  * (`src/main/resources/graft/bpe_merges.txt`): trains
  * [[graft.functions.Bpe.train]] on public English prose shipped with
  * the build environment (the Debian common-licenses texts and the
  * Spark README/LICENSE) and writes the learned table in the
  * `merges.txt` layout with a provenance header. Re-run to regenerate;
  * the trainer's deterministic tie-break makes the output bit-stable
  * for a fixed corpus.
  *
  * usage: runMain graft.tools.TrainBpeTable [numMerges] [outPath]
  */
object TrainBpeTable {
  val defaultCorpus: Seq[String] = Seq(
    "/usr/share/common-licenses/Apache-2.0",
    "/usr/share/common-licenses/Artistic",
    "/usr/share/common-licenses/BSD",
    "/usr/share/common-licenses/CC0-1.0",
    "/usr/share/common-licenses/GFDL-1.2",
    "/usr/share/common-licenses/GFDL-1.3",
    "/usr/share/common-licenses/GPL-1",
    "/usr/share/common-licenses/GPL-2",
    "/usr/share/common-licenses/GPL-3",
    "/usr/share/common-licenses/LGPL-2",
    "/usr/share/common-licenses/LGPL-2.1",
    "/usr/share/common-licenses/LGPL-3",
    "/usr/share/common-licenses/MPL-1.1",
    "/usr/share/common-licenses/MPL-2.0",
    "/opt/spark/README.md",
    "/opt/spark/LICENSE")

  def main(args: Array[String]): Unit = {
    val numMerges = if (args.length > 0) args(0).toInt else 3000
    val outPath = if (args.length > 1) args(1)
      else "src/main/resources/graft/bpe_merges.txt"
    val spark = LocalSession(8)
    val existing = defaultCorpus.filter(p => new java.io.File(p).isFile)
    require(existing.nonEmpty, "no corpus files found")
    val docs = spark.read.textFile(existing: _*).toDF("text")
    val merges = Bpe.train(docs, "text", numMerges)
    val header = Seq(
      "#version: 0.2",
      "# Learned BPE merges in the GPT-2 merges.txt layout, plain-character",
      "# symbol space over whitespace words (matches Bpe.encodeCount).",
      "# Trained by graft.tools.TrainBpeTable (Sennrich frequency-merge loop)",
      "# on public English prose: Debian /usr/share/common-licenses texts +",
      "# the Apache Spark README and LICENSE. Regenerate with:",
      s"#   sbt 'runMain graft.tools.TrainBpeTable $numMerges'")
    val out = new java.io.File(outPath)
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.print(Bpe.formatMerges(merges, header)) finally w.close()
    println(s"[trainbpe] wrote ${merges.size} merges to $outPath")
    spark.stop()
  }
}
