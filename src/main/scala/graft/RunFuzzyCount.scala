package graft

/** Dev utility: direct-count adjudication of the q_fuzzy_join scale
  * legs — the [[RunGraphCount]] pattern applied to the last ≥1.0
  * anchor exponent (r11: 1.06 wall / 1.03 3-pt / 1.02 CPU at clean
  * canaries). Counts the block join's exact pre-filter output
  * cardinality (= levenshtein evaluations, the leg's dominant compute)
  * per scale point via [[ScaleCounts.fuzzy]]: the ScaleFixture shifts
  * p_size by replica·span precisely so block cardinality grows with
  * the corpus and per-block density stays constant
  * (ScaleFixture.scala:30-34). If candidates scale ∝ factor, any
  * super-linear WALL exponent is host noise; if they scale
  * super-linearly, the blocking key genuinely saturated.
  *
  * Usage: RunFuzzyCount [dir ...] (defaults to the bench's three scale
  * points). Prints one line per dir plus a ratio summary.
  */
object RunFuzzyCount {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1",
        "/root/repo/target/scale/sf1", "/root/repo/target/scale/sf3")
    val spark = Sessions.bench()

    val rows = dirs.map { d =>
      val c = ScaleCounts.fuzzy(spark, d)
      println(f"dir=$d parts=${c.parts} blocks=${c.blocks} " +
        f"max_block=${c.maxBlock} candidate_pairs=${c.candidates} " +
        f"result_pairs=${c.results}")
      d -> c
    }
    rows.headOption.foreach { case (bd, base) =>
      rows.drop(1).foreach { case (rd, r) =>
        def ratio(f: ScaleCounts.FuzzyCounts => Long): String =
          if (f(base) == 0) "n/a" else f"${f(r).toDouble / f(base)}%.2f"
        println(s"ratio $rd / $bd: parts=${ratio(_.parts)} " +
          s"blocks=${ratio(_.blocks)} max_block=${ratio(_.maxBlock)} " +
          s"candidates=${ratio(_.candidates)} results=${ratio(_.results)}")
      }
    }
    spark.stop()
  }
}
