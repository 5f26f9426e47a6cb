package graft

/** Evidence main for BPE trainer scaling: the serial trainer pays one
  * driver argmax barrier per merge (~0.1-0.2s scheduling floor each —
  * 32k merges would be hours of pure orchestration at ANY corpus
  * size), and [[graft.operators.TextAnalysis.bpeLearnBatched]] divides
  * the barrier count by selecting up to M symbol-disjoint merges per
  * census. This main MEASURES that curve instead of asserting it:
  * train `merges` merges at each batch size, report census rounds and
  * wall seconds, plus how far the batched merge LIST drifts from the
  * M=1 (exact serial) baseline — the honest cost of the standard
  * approximation.
  *
  * `runMain graft.BpeScale [sfDir] [merges] [m1,m2,...]`
  * prints one JSON line; the committed record lands in SURVEY §5.
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val merges = args.lift(1).map(_.toInt).getOrElse(256)
    val batchSizes = args.lift(2).getOrElse("1,8,32")
      .split(",").map(_.trim.toInt).toSeq
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")

    var baseline: Seq[(String, String)] = Seq.empty
    val sections = batchSizes.map { m =>
      val t0 = System.nanoTime()
      val (learned, rounds) =
        operators.TextAnalysis.bpeLearnBatchedCounted(spark, sfDir, merges, m)
      val wall = (System.nanoTime() - t0) / 1e9
      val rules = learned.map(x => (x._2, x._3))
      if (m == batchSizes.min) baseline = rules
      // drift vs the serial-exact list: fraction of baseline rules the
      // batched list also learned (rank order aside)
      val agree =
        if (baseline.isEmpty) 1.0
        else rules.toSet.intersect(baseline.toSet).size.toDouble / baseline.size
      // the grade that matters: corpus token mass under the learned
      // vocabulary (rule identity can drift where compression doesn't)
      val mass = operators.TextAnalysis.bpeTokenMass(spark, sfDir, learned)
      System.err.println(
        f"m=$m%d rounds=$rounds%d wall=$wall%.1fs agree=$agree%.3f mass=$mass%d")
      f""""m$m":{"rounds":$rounds,"wall_sec":$wall%.1f,"merges":${learned.length},"rule_agreement_vs_serial":$agree%.3f,"token_mass":$mass}"""
    }
    println(s"""{"bench":"bpe_scale","sf":"$sfDir","merges":$merges,${sections.mkString(",")}}""")
    spark.stop()
  }
}
