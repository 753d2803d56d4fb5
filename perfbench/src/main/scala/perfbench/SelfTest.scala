package perfbench

/** Shows that each correctness check accepts a correct output and
  * rejects a deliberately corrupted one. Correct outputs are built from
  * the generators' expected answers; no Spark is started. Exits 1 if a
  * check accepts a corruption or rejects a correct output.
  *
  *     python3 perfbench/run.py --selftest */
object SelfTest {
  private var bad = 0

  private def expect(name: String, errs: Seq[String], shouldFail: Boolean): Unit = {
    val ok = errs.nonEmpty == shouldFail
    if (!ok) bad += 1
    println(f"${if (ok) "ok  " else "FAIL"} $name%-58s ${errs.headOption.getOrElse("(accepted)")}")
  }
  private def accepts(name: String, errs: Seq[String]) = expect(name, errs, shouldFail = false)
  private def rejects(name: String, errs: Seq[String]) = expect(name, errs, shouldFail = true)

  def main(args: Array[String]): Unit = {
    val seed = 7L

    val mr = Gen.mapreduce(seed, nFiles = 2, linesPerFile = 500)
    val (w, c) = mr.tally.head
    accepts("mapreduce: the tally itself", MapReduceW.check(mr.tally, mr.tally))
    rejects("mapreduce: one count off by one", MapReduceW.check(mr.tally.updated(w, c + 1), mr.tally))
    rejects("mapreduce: one word missing", MapReduceW.check(mr.tally - w, mr.tally))
    rejects("mapreduce: one word lower-cased", MapReduceW.check(
      (mr.tally - mr.tally.keys.find(k => k.head.isUpper).get) +
        (mr.tally.keys.find(k => k.head.isUpper).get.toLowerCase -> 1L), mr.tally))

    val sv = Gen.serve(seed, nDocs = 500, nVectors = 2000, nQueries = 8, nProbes = 8,
      nLookups = 2, lookupSize = 8)
    val bm = Gen.bm25TopK(sv.docs, sv.queries, ServeW.K)
    val q = sv.queries.head
    accepts("search: the benchmark's own ranking", ServeW.checkSearch(sv.queries, bm, bm))
    rejects("search: a needle doc missing",
      ServeW.checkSearch(sv.queries, bm.updated(q.id, bm(q.id).filterNot(d => q.needleDocs.contains(d._1))), bm))
    rejects("search: two ranks swapped",
      ServeW.checkSearch(sv.queries, bm.updated(q.id, bm(q.id).take(2).reverse ++ bm(q.id).drop(2)), bm))
    rejects("search: a score off by one",
      ServeW.checkSearch(sv.queries, bm.updated(q.id, bm(q.id).map(d => d._1 -> (d._2 + 1))), bm))
    val cos = Gen.cosineTopK(sv.vectors, sv.probes, ServeW.K)
    val p = sv.probes.head
    accepts("ann: exact neighbours", ServeW.checkAnn(sv.probes, cos) ++
      ServeW.checkRecall(ServeW.recall(sv.probes, cos, cos)))
    rejects("ann: a probe returns itself", ServeW.checkAnn(sv.probes, cos.updated(p, p +: cos(p).tail)))
    rejects("ann: a probe short of k results", ServeW.checkAnn(sv.probes, cos.updated(p, cos(p).tail)))
    val far = cos.map { case (k, v) => k -> v.map(_ + 1000000L) }
    rejects("ann: recall below the floor", ServeW.checkRecall(ServeW.recall(sv.probes, far, cos)))
    val lk = sv.lookups.head
    val dupOf = lk.planted.map(_.swap).toMap
    val ok = lk.docs.map(_._1).filterNot(lk.screenedOut).map(d => d -> dupOf.get(d))
    accepts("lookup: screened batch with the planted pairs", ServeW.checkLookup(lk, ok))
    rejects("lookup: a planted copy missed", ServeW.checkLookup(lk,
      ok.map { case (d, s) => if (s.isDefined && s == ok.flatMap(_._2).headOption) d -> None else d -> s }))
    rejects("lookup: an extra pair", ServeW.checkLookup(lk,
      ok.map { case (d, s) => if (s.isEmpty && d == ok.find(_._2.isEmpty).get._1) d -> Some(0L) else d -> s }))
    rejects("lookup: a low-quality or non-English doc admitted",
      ServeW.checkLookup(lk, ok :+ (lk.screenedOut.head -> None)))
    rejects("lookup: an arriving English doc screened out", ServeW.checkLookup(lk, ok.tail))


    println(if (bad == 0) "selftest: all checks behave" else s"selftest: $bad checks misbehave")
    sys.exit(if (bad == 0) 0 else 1)
  }
}
