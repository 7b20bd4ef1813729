package perfbench

/**
 * The correctness checks, as pure functions of what a run observed. Each
 * returns the list of violations; an empty list passes. Keeping them pure
 * lets the benchmark's own tests feed them tampered results.
 */
object Checks {

  private def same(what: String, a: (String, Map[String, Long]),
                   b: (String, Map[String, Long])): Seq[String] =
    if (a._2 == b._2) Nil
    else Seq(s"$what: ${a._1}=${a._2.toSeq.sorted} != ${b._1}=${b._2.toSeq.sorted}")

  /** fused_write: per-sink counts observed during the write = read-back of
    * the written files = ledger totals = the reference normalizer's routed
    * counts over the same input rows. */
  def fused(observed: Map[String, Long], readBack: Map[String, Long],
            ledger: Map[String, Long], reference: Map[String, Long]): Seq[String] =
    (if (observed.isEmpty || observed.values.sum == 0) Seq("fused: nothing routed") else Nil) ++
      same("fused", "observed" -> observed, "read-back" -> readBack) ++
      same("fused", "observed" -> observed, "ledger" -> ledger) ++
      same("fused", "observed" -> observed, "reference" -> reference)

  /** config_corpus: per sink, the write-observed routed count = read-back
    * = ledger; for each push sink, lines delivered + lines deadlettered =
    * routed, and nothing was silently lost. */
  def config(routed: Map[String, Long], readBack: Map[String, Long],
             ledger: Map[String, Long], pushSinks: Seq[String],
             delivered: Map[String, Long], deadlettered: Map[String, Long]): Seq[String] =
    (if (routed.isEmpty || routed.values.sum == 0) Seq("config: nothing routed") else Nil) ++
      same("config", "routed" -> routed, "read-back" -> readBack) ++
      same("config", "routed" -> routed, "ledger" -> ledger) ++
      pushSinks.flatMap { s =>
        val (r, d, x) = (routed.getOrElse(s, 0L), delivered.getOrElse(s, 0L), deadlettered.getOrElse(s, 0L))
        if (r > 0 && d + x == r) Nil
        else Seq(s"config: push sink $s delivered $d + deadlettered $x != routed $r")
      }

  /** stream_backlog: observed events_in = staged rows, and Σ ledger rows =
    * Σ stream-metrics sink rows = rows read back from the written files. */
  def stream(eventsIn: Long, staged: Long, ledgerRows: Long, metricsRows: Long,
             readBack: Long): Seq[String] =
    (if (eventsIn == staged) Nil else Seq(s"stream: events_in $eventsIn != staged $staged")) ++
      (if (ledgerRows > 0 && ledgerRows == metricsRows && metricsRows == readBack) Nil
       else Seq(s"stream: ledger $ledgerRows, stream metrics $metricsRows, read-back $readBack disagree"))

  /** The share by which the fused ladder's full rung may differ from the
    * product call it rebuilds: the `wall_s` bound of BENCHMARK.json. */
  val LadderBound = 0.25

  /** fused_write, traced: the sum of the ladder's self times (the full rung,
    * rebuilt one public layer function at a time) over the median
    * `Pipeline.runFused` time is within `bound` of 1. */
  def ladder(ratio: Double, bound: Double): Seq[String] =
    if (math.abs(ratio - 1) <= bound) Nil
    else Seq(f"ladder: self times sum to $ratio%.3f of Pipeline.runFused, outside 1 ± $bound")

  /** query_suite: no query threw, and the oracle comparison printed ALL OK
    * with a zero exit code. */
  def queries(thrown: Seq[String], oracleExit: Int, oracleOutput: String): Seq[String] =
    thrown.map(q => s"query $q threw") ++
      (if (oracleExit == 0 && oracleOutput.contains("ALL OK")) Nil
       else Seq(s"oracle check exit $oracleExit: " +
         oracleOutput.linesIterator.filterNot(_.startsWith("[ OK ]")).mkString(" | ")))
}
