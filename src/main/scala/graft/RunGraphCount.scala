package graft

/** Dev utility: direct-count adjudication of the graph scale legs
  * (q_triangles, q_label_prop) — the [[RunAnnCount]] pattern. Wall
  * clocks on this host lie under hypervisor stalls, but the WORKLOAD of
  * each leg is a deterministic function of the fixture, countable in
  * one cheap aggregate per point (see [[ScaleCounts.graph]]):
  *
  *  - triangles (edge-iterator close): work per oriented edge (u,v) is
  *    the sorted-merge walk outdeg(u) + outdeg(v). The summed walk
  *    length across all oriented edges IS the leg's compute, exactly
  *    (every probe the exec makes is one step of some merge walk).
  *  - label propagation: each iteration joins the doubled edge list to
  *    the label vector (2|E| message rows) and aggregates them into
  *    #distinct (node, neighbor-label) groups, then argmaxes those.
  *    Messages + group cardinalities per iteration are the workload.
  *
  * If those counts grow ∝ factor between sf0.1 / sf1 / sf3 (the
  * ScaleFixture is disjoint-replica with constant degree, so they
  * should — that is the design claim), then any super-linear WALL
  * exponent on these legs is measurement noise, adjudicated by the
  * fixture's own numbers rather than by re-running on a quieter host.
  * `ScaleLinearitySpec` pins the same invariant at test cost on a
  * small synthetic fixture.
  *
  * Usage: RunGraphCount [dir ...] (defaults to the bench's three scale
  * points). Prints one line per dir plus a ratio summary.
  */
object RunGraphCount {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1",
        "/root/repo/target/scale/sf1", "/root/repo/target/scale/sf3")
    val spark = Sessions.bench()

    val rows = dirs.map { d =>
      val c = ScaleCounts.graph(spark, d)
      println(f"dir=$d nodes=${c.nodes} edges=${c.edges} " +
        f"tri_walk_steps=${c.walkSteps} triangles=${c.triangles} " +
        f"lpa_messages_per_iter=${c.lpaMessagesPerIter} " +
        s"lpa_groups_per_iter=${c.lpaGroups.mkString(",")}")
      d -> c
    }
    rows.headOption.foreach { case (bd, base) =>
      rows.drop(1).foreach { case (rd, r) =>
        def ratio(f: ScaleCounts.GraphCounts => Long): String =
          if (f(base) == 0) "n/a" else f"${f(r).toDouble / f(base)}%.2f"
        println(s"ratio $rd / $bd: " +
          s"edges=${ratio(_.edges)} tri_walk_steps=${ratio(_.walkSteps)} " +
          s"triangles=${ratio(_.triangles)} " +
          s"lpa_messages=${ratio(_.lpaMessagesPerIter)} " +
          s"lpa_groups_i3=${ratio(_.lpaGroups.last)}")
      }
    }
    spark.stop()
  }
}
